"""Similarity search over embedding columns (array<float>).

Two paths over the ``embeddings`` table (vec_id, embedding float[64],
label):

* :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query set against the full corpus, one pass, a per-query ranking window.
  The baseline every ANN variant is verified against.
* :func:`ivf_topk` — IVF-style ANN: assign every vector to its nearest
  coarse centroid (broadcast centroid table), then search only the query's
  cell — the classic inverted-file structure as two broadcast joins + one
  cell-local ranking. At 100 TB the cell assignment is a write-time
  partition (``partitionBy(cell)``), making the probe a partition-pruned
  scan.

Determinism / oracle portability: embeddings are quantized to integer
milli-units (``round(x * 1000)``), so dot products and squared norms are
exact BIGINT arithmetic — bit-identical in any engine. The ranking score
``cos = dot / sqrt(na * nb)`` is a single IEEE-exact-rounded division of
exact integers, so even the DOUBLE compares identically. Ties break on
neighbor id.

Everything is built-in functions (``zip_with`` + ``aggregate`` for the dot
product — JVM-side, no Python); a vectorized pandas-UDF variant would only
win once SIMD matters (dims >> 64), and slots into the same frame shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

N_QUERIES = 32
TOP_K = 5
N_CENTROIDS = 4


def _quantize(col: Column) -> Column:
    """float[] -> bigint[] milli-units; float->double cast is exact, the
    double multiply and round are IEEE-identical everywhere."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000.0, 0).cast("bigint"))


def quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q bigint[], nq bigint) — quantized vector + squared norm."""
    q = _quantize(F.col("embedding"))
    return emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        q.alias("q"),
    ).withColumn(
        "nq",
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _cos(dot: Column, na: Column, nb: Column) -> Column:
    return dot.cast("double") / F.sqrt((na * nb).cast("double"))


def brute_force_topk(
    emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact cosine top-k: queries = vec_id < n_queries (a stand-in for any
    small query batch). Output (query_id, neighbor_id, rnk, cos).

    Plan shape: broadcast(queries) x corpus — the corpus is scanned ONCE
    with no shuffle; the final top-k is a window over query_id (tiny
    cardinality). This is the optimal exact plan at any corpus size.
    """
    qz = quantized(emb)
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("qn"),
    )
    scored = (
        qz.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos(_dot(F.col("qq"), F.col("q")), F.col("qn"), F.col("nq")).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cos")
    )


def _assign_qz(qz: DataFrame, n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Cell assignment over an already-quantized frame: centroid = argmax
    cosine among the first ``n_centroids`` corpus vectors, broadcast; ties
    break to the lower centroid id. Output keeps the winning cosine:
    (vec_id, q, nq, cell, ccos)."""
    cents = qz.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("q").alias("cq"),
        F.col("nq").alias("cn"),
    )
    scored = qz.join(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        _cos(_dot(F.col("q"), F.col("cq")), F.col("nq"), F.col("cn")).alias("ccos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("cent_id").alias("cell"), F.col("ccos").alias("ccos")),
            F.struct(F.col("ccos"), -F.col("cent_id")),
        ).alias("_b")
    ).select("vec_id", F.col("_b.cell").alias("cell"), F.col("_b.ccos").alias("ccos"))
    return qz.join(best, "vec_id")


def assign_cells(emb: DataFrame, n_centroids: int = N_CENTROIDS) -> DataFrame:
    """IVF cell assignment: centroid = argmax cosine among the first
    ``n_centroids`` vectors (a deterministic stand-in for k-means output —
    the structure, not the training, is the operator under test).

    Broadcast the centroid table; ties break on centroid id.
    Output: (vec_id, q, nq, cell).
    """
    return _assign_qz(quantized(emb), n_centroids).drop("ccos")


SRP_PLANES = 24
SRP_ROWS_PER_BAND = 8
NEAR_DUP_COS = 0.99
_TWIN_OFFSET = 100_000


def _srp_weight(plane: int, i: Column) -> Column:
    """Deterministic ±1 hyperplane weight for (plane, dim): parity of the
    portable md5-based hash60 — identical in Spark and DuckDB, so the
    random projections are reproducible across engines (a real deployment
    swaps in seeded Gaussian planes; the LSH structure is what is under
    test)."""
    from dygiepp_spark.functions.hashing import hash60

    h = hash60(F.concat(F.lit(f"{plane}:"), i.cast("string")))
    return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint")


def srp_buckets(qz: DataFrame, n_planes: int = SRP_PLANES,
                rows_per_band: int = SRP_ROWS_PER_BAND) -> DataFrame:
    """Sign-random-projection LSH buckets over quantized vectors.

    bit_p = [sum_d w(p,d) * q_d >= 0] — exact BIGINT arithmetic (the SRP
    cosine sketch: P[bit match] = 1 - angle/pi). Bits are packed into
    ``n_planes / rows_per_band`` band buckets; near-identical vectors
    share every band, unrelated ones match a band with prob ~(1 -
    angle/pi)^rows_per_band. Output (id, band, bucket) — feeds the shared
    :func:`dygiepp_spark.operators.dedup.lsh_candidates` hot-bucket-capped
    self-join. All per-row work is JVM array lambdas, no shuffle."""
    def bit(p: int) -> Column:
        proj = F.aggregate(
            F.transform(F.col("q"), lambda x, i: x * _srp_weight(p, i)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        return (
            F.when(proj >= 0, F.lit(1).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias(f"_bit{p}")
        )

    bits = [bit(p) for p in range(n_planes)]
    with_bits = qz.select(F.col("vec_id").alias("id"), *bits)
    n_bands = n_planes // rows_per_band
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.col(f"_bit{b * rows_per_band + r}") * F.lit(1 << r)
                    for r in range(rows_per_band)
                ).cast("string").alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return with_bits.select("id", F.explode(entries).alias("e")).select(
        "id", F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket")
    )


def with_planted_twins(qz: DataFrame) -> DataFrame:
    """Union the corpus with a deterministic near-duplicate of every
    vector: twin id = id + 100000, first quantized component +5 milli-
    units (cos vs the original ~0.99999). The synthetic embeddings table
    has no natural near-dups (max pairwise cos ~0.51), so the duplicates
    the detector must find are derived IN the query — identically in both
    engines — rather than shipped as extra data."""
    twin_q = F.concat(
        F.array(F.element_at("q", 1) + F.lit(5)), F.slice(F.col("q"), 2, 1 << 20)
    )
    twins = qz.select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"), twin_q.alias("q")
    ).withColumn(
        "nq",
        F.aggregate("q", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x),
    )
    return qz.unionByName(twins)


def embedding_near_dups(
    emb: DataFrame, thresh: float = NEAR_DUP_COS, plant_twins: bool = True
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-bucketed.

    The scale path for 'are these two documents the same content?' over
    an embedding column: SRP banding generates candidate pairs (never the
    all-pairs cross product), a hot-bucket cap bounds degenerate clusters,
    and every surviving pair is verified with the EXACT integer-quantized
    cosine — precision 1.0, recall = the SRP band guarantee. Output
    (id_a, id_b, cos) for cos >= thresh.
    """
    from dygiepp_spark.operators.dedup import lsh_candidates

    qz = quantized(emb)
    if plant_twins:
        qz = with_planted_twins(qz)
    # feeds buckets AND verify; under AQE the pin runs its upstream
    # shuffle stages when it is called
    qz = qz.localCheckpoint(eager=False)
    cands = lsh_candidates(srp_buckets(qz))
    a = qz.select(
        F.col("vec_id").alias("id_a"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    b = qz.select(
        F.col("vec_id").alias("id_b"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            _cos(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias("cos"),
        )
        .filter(F.col("cos") >= thresh)
    )


#: SemDeDup acceptance threshold: the planted twins sit at cos ~0.99999,
#: the synthetic corpus's max natural pairwise cos is ~0.51 — 0.97 is the
#: decisive middle ground (production tunes this per-embedding-model)
SEMDEDUP_EPS = 0.97


#: SemDeDup target cell population: k = max(4, n // SEMDEDUP_CELL_TARGET)
#: keeps the within-cell pair join ~quadratic in a CONSTANT (the cell
#: size), linear in the corpus — the paper's k ~ N/avg_cluster_size rule
SEMDEDUP_CELL_TARGET = 100


def semantic_dedup(
    emb: DataFrame,
    eps: float = SEMDEDUP_EPS,
    n_centroids: int | None = None,
    plant_twins: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication via clustering: assign every embedding to a coarse
    centroid, call within-cluster pairs with exact cosine >= ``eps``
    semantic duplicates, and mark the member CLOSER to the centroid as
    the drop (the paper keeps the low-centroid-similarity example to
    preserve diversity). This catches paraphrases and re-encodings that
    MinHash/SimHash (lexical) and even SRP-LSH near-dup (which needs
    cos ~0.99) miss at lower thresholds, because the cluster key — not a
    hash band — bounds the candidate set.

    Determinism: same integer milli-unit quantization as every similarity
    op (dot products exact BIGINT; the cosine one IEEE division), first-k
    centroid init, ties to lower centroid id / higher vec_id, so the
    DuckDB twin reproduces every row bit-identically. ``plant_twins``
    injects the deterministic near-dup pairs (the corpus has no natural
    ones) exactly like embedding_near_dups.

    Output: (cell, id_a, id_b, cos, drop_id), id_a < id_b.

    Scale: ONE broadcast centroid join + ONE cell-keyed self-join. The
    self-join is |cell|^2 per cell, so ``n_centroids`` defaults to
    DATA-ADAPTIVE ``max(4, n // SEMDEDUP_CELL_TARGET)`` — cell population
    stays ~constant as the corpus grows and total pair work stays LINEAR
    in n (the paper's k ~ N/avg_cluster_size rule; a fixed small k would
    blow up quadratically at 100x the data). The count is one cheap
    corpus action on the Spark side and a scalar subquery in the twin,
    so both engines derive the same k. A degenerate mega-cell is handled
    the same way ngram_jaccard handles hot blocks (reroute members
    through SRP-LSH banding), and the cell key is a write-time partition
    at warehouse scale, so the join is partition-local with zero shuffle
    on a cell-partitioned layout.
    """
    if n_centroids is None:
        n_centroids = max(4, emb.count() // SEMDEDUP_CELL_TARGET)
    qz = quantized(emb)
    if plant_twins:
        qz = with_planted_twins(qz)
    # assigned feeds BOTH sides of the pair join; under AQE each pin runs
    # its upstream shuffle stages when it is called
    assigned = _assign_qz(
        qz.localCheckpoint(eager=False), n_centroids
    ).localCheckpoint(eager=False)
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
        F.col("ccos").alias("ca"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
        F.col("ccos").alias("cb"),
    )
    scored = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell",
            "id_a",
            "id_b",
            _cos(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias(
                "cos"
            ),
            "ca",
            "cb",
        )
        .filter(F.col("cos") >= eps)
    )
    drop = (
        F.when(F.col("ca") > F.col("cb"), F.col("id_a"))
        .when(F.col("cb") > F.col("ca"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
    )
    return scored.select("cell", "id_a", "id_b", "cos", drop.alias("drop_id"))


def ivf_topk(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """IVF ANN: search only the query's own cell (nprobe=1).

    Approximation is by design — recall vs :func:`brute_force_topk` is the
    quality metric (tested). Output (query_id, neighbor_id, rnk, cos).
    """
    # cells feeds both the (broadcast) query side and the probe side —
    # materialize so assignment runs once (production: the IVF index IS a
    # stored table partitioned by cell); under AQE the pin runs the
    # assignment's shuffle stages when it is called
    cells = assign_cells(emb, n_centroids).localCheckpoint(eager=False)
    queries = cells.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("qn"),
        F.col("cell").alias("qcell"),
    )
    scored = (
        cells.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos(_dot(F.col("qq"), F.col("q")), F.col("qn"), F.col("nq")).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cos")
    )


def kmeans_train(
    emb: DataFrame, k: int = N_CENTROIDS, iters: int = 2
) -> DataFrame:
    """Distributed Lloyd's k-means over quantized embeddings — the
    training pass that produces real IVF centroids (``assign_cells``
    documents its first-k stand-in; this is the non-stand-in).

    Deterministic + engine-portable by construction:

    * init: centroids = the first ``k`` vectors (seeded init; k-means++
      would add RNG the oracle can't replay);
    * assign: broadcast the k centroids, argmax integer-quantized cosine,
      ties to the lower centroid id — identical to the IVF probe;
    * update: per-cell elementwise mean, computed by posexploding the
      64-dim vectors into (cell, dim, v) rows and aggregating — ONE
      map-side-combinable shuffle keyed (cell, dim) per iteration, the
      textbook scale shape (state per reducer is two longs regardless of
      cell size). The new centroid is re-quantized with
      ``round(sum/count)`` (one IEEE double division of exact integers),
      so every iteration's centroids are exact integers in both engines.
    * a cell that captures no vectors drops out (inner-join semantics,
      identical in the SQL twin); subsequent iterations run with the
      surviving centroids.

    Returns (cell, size, cq) — final centroid id, its population, and the
    centroid vector. ``iters`` is small and fixed: each round is a full
    corpus pass, and the oracle unrolls the same number of rounds.
    """
    qz = quantized(emb).localCheckpoint(eager=False)
    cents = qz.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"),
        F.col("q").alias("cq"),
        F.col("nq").alias("cn"),
    )
    for _ in range(iters):
        assigned = (
            qz.join(F.broadcast(cents))
            .select(
                "vec_id",
                "q",
                "cent_id",
                _cos(
                    _dot(F.col("q"), F.col("cq")), F.col("nq"), F.col("cn")
                ).alias("ccos"),
            )
            .groupBy("vec_id", "q")
            .agg(
                F.max_by(
                    F.col("cent_id"), F.struct(F.col("ccos"), -F.col("cent_id"))
                ).alias("cell")
            )
        )
        dims = assigned.select(
            "cell", F.posexplode("q").alias("dim", "v")
        )
        means = dims.groupBy("cell", "dim").agg(
            F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_n")
        ).select(
            "cell",
            "dim",
            F.round(
                F.col("_s").cast("double") / F.col("_n").cast("double"), 0
            ).cast("bigint").alias("cv"),
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "cv"))
                    ),
                    lambda s: s["cv"],
                ).alias("cq")
            )
            .select(
                F.col("cell").alias("cent_id"),
                "cq",
                F.aggregate(
                    "cq", F.lit(0).cast("bigint"), lambda a, x: a + x * x
                ).alias("cn"),
            )
        )
    sizes = (
        qz.join(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            _cos(_dot(F.col("q"), F.col("cq")), F.col("nq"), F.col("cn")).alias(
                "ccos"
            ),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cent_id"), F.struct(F.col("ccos"), -F.col("cent_id"))
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("size"))
    )
    return cents.select(F.col("cent_id").alias("cell"), "cq").join(
        sizes, "cell"
    ).select("cell", "size", "cq")


def embedding_stats(emb: DataFrame) -> DataFrame:
    """Vector-hygiene pre-flight over an embedding column — the one-row
    report an ANN/semantic-dedup job reads before trusting its input:
    vector count, dimensionality spread (min/max — a mismatch means a
    broken encoder batch), zero-vector count (cosine is undefined on
    them), and the quantized-squared-norm range + mean (norm outliers
    break IVF cell balance).

    All counts/extrema are exact integers on the milli-unit
    quantization every similarity operator here shares; the mean is one
    exact-integer division. One map-side-combinable pass, no shuffle
    beyond the 1-row fold.
    """
    qz = quantized(emb)
    return qz.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(F.size("q")).cast("bigint").alias("min_dims"),
        F.max(F.size("q")).cast("bigint").alias("max_dims"),
        F.sum(F.when(F.col("nq") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.min("nq").alias("min_nq"),
        F.max("nq").alias("max_nq"),
        F.sum("nq").alias("_sum_nq"),
    ).select(
        "n_vectors", "min_dims", "max_dims", "n_zero", "min_nq", "max_nq",
        (
            F.col("_sum_nq").cast("double") / F.col("n_vectors").cast("double")
        ).alias("mean_nq"),
    )


def ivf_cell_balance(emb: DataFrame, n_centroids: int = N_CENTROIDS) -> DataFrame:
    """IVF partition-balance report: per cell, its vector count and
    corpus share — the skew alarm an ANN serving layer reads before
    trusting the index (one melted cell = one hot probe shard; the
    fix is re-training centroids or splitting the cell).

    Scale: the assignment is the existing broadcast-centroid argmax
    (one corpus scan); the report is one map-side-combinable agg over
    the centroid-count domain; share is one exact-integer division.
    """
    cells = assign_cells(emb, n_centroids).select("vec_id", "cell")
    per = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    total = per.agg(F.sum("n_vectors").alias("_t"))
    return per.crossJoin(F.broadcast(total)).select(
        "cell", "n_vectors",
        (
            F.col("n_vectors").cast("double") / F.col("_t").cast("double")
        ).alias("share"),
    )


def ivf_recall(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """Measured recall of the IVF scale path against exact brute force —
    per query, how many of the true top-``k`` neighbors the nprobe=1
    cell search returned: ``(query_id, n_hit, recall)``. THE number the
    documented IVF speed/recall tradeoff is judged by, measured instead
    of asserted; a low-recall query sits near a cell boundary (raise
    nprobe or re-train centroids). The denominator is the query's number
    of true neighbors — ``k``, or fewer on a corpus of at most ``k`` other
    vectors — so a query that finds all of them scores 1.0.

    Scale: both sides are the existing broadcast-query scans; the
    overlap is a semi-join on (query_id, neighbor_id) over two
    k*n_queries-row frames — trivially sized at any corpus scale — and
    recall is one exact-integer division.
    """
    bf = brute_force_topk(emb, k, n_queries).select(
        "query_id", "neighbor_id"
    )
    iv = ivf_topk(emb, k, n_queries, n_centroids).select(
        "query_id", "neighbor_id"
    )
    hits = bf.join(iv, ["query_id", "neighbor_id"], "left_semi")
    per = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    base = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        base.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("bigint")).alias(
                "n_hit"
            ),
            "n_true",
        )
        .select(
            "query_id", "n_hit",
            (
                F.col("n_hit").cast("double") / F.col("n_true").cast("double")
            ).alias("recall"),
        )
    )
