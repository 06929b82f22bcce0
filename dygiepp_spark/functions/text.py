"""Text operators over whitespace tokens: the document quality filter,
the unigram-LM score, exact length quantiles and the vocabulary build,
plus token counts, language ID, document fingerprints, deterministic
stratified sampling and sequence packing.

All JVM-side (built-in functions only — no Python in the hot path); each
query built on them has a DuckDB SQL twin in dygiepp_spark.oracles_data
for the parity gate. ``composite_filter`` and ``lm_score`` are the DAG's
``doc_filter`` and ``doc_lm`` stages; ``tokens_col`` and ``token_ngrams``
are shared with the transcript, decontamination and streaming operators.
These run over the ``documents`` table (doc_id, text, lang, source,
n_chars) but accept any (id, text) frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from dygiepp_spark.functions.hashing import hash60, hash_family_from

#: tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deterministic toy lists — the point is the *operator* (vectorized
#: stopword-ratio language scoring), not linguistic coverage.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
    "zh": ["de", "shi", "he", "zai", "le"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization, empties dropped (reference's token model)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_ngrams(toks: Column, n: int) -> Column:
    """Space-joined length-``n`` n-grams of a token array, in order.

    The array is paired with itself shifted by one position ``n - 1``
    times (``zip_with`` of two slices), so each lambda sees only its two
    elements: O(tokens * n) per row. Pass a column that holds the
    tokens, not the tokenizing expression, so the text is split once.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return grams


def word_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count."""
    return df.withColumn("n_tokens", F.size(tokens_col(F.col(text_col))))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish proxy token count: word-pieces estimated as
    ceil(chars/4) per word, the standard subword budget heuristic.
    JVM-side: aggregate over the token array."""
    toks = tokens_col(F.col(text_col))
    return df.withColumn(
        "n_bpe_tokens",
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("bigint"),
        ),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token stats, punctuation and
    stopword ratios, uppercase ratio. Pure column arithmetic; ratios are
    exact integer-over-integer doubles (portable)."""
    toks = tokens_col(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", ""))
    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stop_all)))
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    return df.select(
        "*",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")).alias(
            "punct_ratio"
        ),
        (n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")).alias(
            "stopword_ratio"
        ),
        mean_tok_len.alias("mean_token_len"),
    )


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID by stopword-hit counting: argmax over per-language
    stopword hits; tie/zero -> 'und'. One pass over the token array per
    language (5 small filters — all codegen'd)."""
    toks = tokens_col(F.lower(F.col(text_col)))

    def _hit(ws: list[str]):
        return lambda t: t.isin(*ws)

    hits = [
        F.size(F.filter(toks, _hit(ws))).alias(f"_h_{lang}")
        for lang, ws in LANG_STOPWORDS.items()
    ]
    with_hits = df.select("*", *hits)
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"_h_{lg}") for lg in langs])
    pred = F.lit("und")
    # first language (in fixed order) achieving the max, if max > 0
    for lg in reversed(langs):
        pred = F.when(F.col(f"_h_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return with_hits.withColumn("pred_lang", pred).drop(
        *[f"_h_{lg}" for lg in langs]
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 4
) -> DataFrame:
    """Document fingerprint: min-hash of character 5-gram shingles of the
    normalized text (winnowing-lite). Returns (id, fp_0..fp_{k-1}) where
    fp_i = min over shingles of family_i(hash60(shingle)) — one md5 per
    shingle, k cheap integer mixes (functions.hashing 2-universal family).

    Implemented as shingle explode + ONE hash aggregation with map-side
    combine — the shuffle carries only k*61 bits per document.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    sh = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - 4, F.lit(1))),
                lambda i: norm.substr(i, F.lit(5)),
            )
        ).alias("shingle"),
    ).withColumn("_h", hash60(F.col("shingle")))
    aggs = [
        F.min(hash_family_from(F.col("_h"), i)).alias(f"fp_{i}") for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1 quality
    filters, re-expressed relationally): per document,

    * ``dup_token_frac``  — 1 - distinct_tokens / tokens (type-token ratio
      complement; high = the doc repeats its vocabulary),
    * ``top_2gram_frac``  — occurrences of the most frequent word 2-gram
      over total 2-gram positions (the "fraction of text in the most
      common n-gram" rule),
    * ``top_2gram``       — that 2-gram (ties -> lexicographically
      smallest, so the output is deterministic).

    Plan: token/distinct counts are row-local array expressions; the
    2-gram mode needs per-(doc, gram) counts, which is ONE partial-agg
    shuffle keyed (id, gram) followed by a map-side-combinable rollup to
    (id). No per-doc array blowup — a pathological 10M-token document
    costs rows, not memory, which is why this is NOT computed with
    row-local higher-order lambdas (interpreted, O(n^2) per doc).
    Documents with < 2 tokens get top_2gram_frac 0 / top_2gram null.
    """
    tokenized = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    base = tokenized.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )
    grams = tokenized.select(
        F.col(id_col), F.explode(token_ngrams(toks, 2)).alias("gram")
    )
    gram_counts = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("n")
    )
    # min over (-count, gram) = highest count, then smallest gram
    top = gram_counts.groupBy(id_col).agg(
        F.sum("n").alias("n_2grams"),
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("gram"))).alias("_t"),
    )
    out = base.join(top, id_col, "left")
    dup_frac = F.when(
        F.col("n_tokens") > 0,
        F.lit(1.0)
        - F.col("n_distinct_tokens").cast("double")
        / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    top_n = -F.col("_t.neg")
    return out.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        dup_frac.alias("dup_token_frac"),
        F.coalesce(F.col("n_2grams"), F.lit(0)).cast("bigint").alias("n_2grams"),
        F.coalesce(top_n, F.lit(0)).cast("bigint").alias("top_2gram_count"),
        F.coalesce(
            top_n.cast("double")
            / F.greatest(F.col("n_2grams"), F.lit(1)).cast("double"),
            F.lit(0.0),
        ).alias("top_2gram_frac"),
        F.col("_t.gram").alias("top_2gram"),
    )


#: composite-filter rule thresholds (Gopher/C4-flavored, tuned so each
#: rule is OBSERVABLY active on the synthetic corpus — see the parity
#: query — while keeping the production shape: one codegen'd projection)
FILTER_MIN_TOKENS = 20
FILTER_MAX_TOKENS = 5000
FILTER_MIN_MEAN_TOK_LEN = 3.8
FILTER_MAX_MEAN_TOK_LEN = 10.0
FILTER_MAX_DUP_TOKEN_FRAC = 0.6
FILTER_MAX_TOP_2GRAM_FRAC = 0.10
FILTER_MIN_STOPWORD_RATIO = 0.01
FILTER_MAX_PUNCT_RATIO = 0.10


def composite_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style document filter: every rule is a bit in
    ``reason_bits`` so a curation run can report WHY each document was
    dropped (the standard corpus-quality dashboard), and ``keep`` is
    ``reason_bits == 0``.

    Bits: 0 too-short, 1 too-long, 2 mean-token-length out of range,
    3 duplicate-token fraction, 4 top-2-gram fraction, 5 stopword ratio
    too low, 6 punctuation ratio too high (Rae et al. 2021 §A1.1 rule
    family re-expressed relationally).

    Plan: :func:`quality_features` is a narrow projection; the only
    shuffle is :func:`repetition_features`'s per-(doc, 2gram) partial
    aggregation, joined back on the id. Rule evaluation itself is one
    codegen'd projection — at 100 TB the filter pass costs one corpus
    scan plus the 2-gram agg.
    """
    q = quality_features(df.select(F.col(id_col), F.col(text_col)), text_col)
    r = repetition_features(df, id_col, text_col).select(
        id_col, "dup_token_frac", "top_2gram_frac"
    )
    j = q.join(r, id_col)
    rules = [
        F.col("n_tokens") < FILTER_MIN_TOKENS,
        F.col("n_tokens") > FILTER_MAX_TOKENS,
        (F.col("mean_token_len") < FILTER_MIN_MEAN_TOK_LEN)
        | (F.col("mean_token_len") > FILTER_MAX_MEAN_TOK_LEN),
        F.col("dup_token_frac") > FILTER_MAX_DUP_TOKEN_FRAC,
        F.col("top_2gram_frac") > FILTER_MAX_TOP_2GRAM_FRAC,
        F.col("stopword_ratio") < FILTER_MIN_STOPWORD_RATIO,
        F.col("punct_ratio") > FILTER_MAX_PUNCT_RATIO,
    ]
    bits = None
    for i, rule in enumerate(rules):
        term = F.when(rule, F.lit(1 << i)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return j.select(
        F.col(id_col),
        F.col("n_tokens"),
        bits.cast("int").alias("reason_bits"),
        (bits == 0).alias("keep"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    scale: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the data-mixing
    primitive of a pre-training pipeline ("keep 50% of en, 10% of the
    rest"). A row survives iff

        hash60(strata || ':' || key) % scale  <  round(rate * scale)

    so the decision is a pure function of (stratum, key): reproducible
    across runs/engines (md5-portable, see functions.hashing), stable
    under repartitioning, and executed as ONE codegen'd filter — no
    shuffle, no RNG state, no driver involvement. ``df.sample`` is NOT
    used precisely because its seed is partition-dependent (a 100 TB
    re-layout would silently change the sample).

    ``rates`` maps stratum value -> keep rate in [0, 1]; unlisted strata
    use ``default_rate``. Rates are quantized to 1/scale (exact integer
    compare, no float threshold ambiguity).
    """
    thresh = F.lit(int(round(default_rate * scale)))
    for v, r in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == v, F.lit(int(round(r * scale)))).otherwise(
            thresh
        )
    bucket = hash60(
        F.concat(F.col(strata_col), F.lit(":"), F.col(key_col).cast("string"))
    ) % F.lit(scale)
    return df.filter(bucket < thresh)


def vocab_build(
    df: DataFrame,
    min_freq: int = 2,
    max_size: int = 200,
    specials: tuple[str, ...] = ("<pad>", "<unk>"),
    text_col: str = "text",
) -> DataFrame:
    """Full vocabulary-build semantics of the reference's vendored
    torchtext ``Vocab`` (vocab.py:31-88): specials first at ids
    ``0..len(specials)-1`` with their corpus counts discarded
    (:64-66), then corpus tokens with ``freq >= min_freq`` in
    (freq DESC, token ASC) order (:70-77 two-pass stable sort), cut so
    the total vocabulary holds ``max_size`` non-special entries
    (:68 ``max_size + len(itos)``; the loop's ``break`` on a sub-min_freq
    count equals a filter because counts arrive frequency-sorted).

    Output: (token_id, token, n, is_special); special rows carry NULL
    ``n`` ("frequencies of special tokens are not counted", :63).

    Scale: one map-side-combinable count agg; the global order is first
    cut with the distributed k-th-count threshold
    (pruning.kth_score_threshold — no unpartitioned window over the full
    vocabulary), so the single-partition row_number ranks only
    ~max_size + ties survivors.
    """
    from pyspark.sql import Window

    from dygiepp_spark.operators.pruning import kth_score_threshold

    toks = df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
    counts = (
        toks.filter(~F.col("token").isin(*specials))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_freq)
    )
    thr = kth_score_threshold(counts, "n", max_size)
    surv = counts.join(
        F.broadcast(thr), on=F.col("n") >= F.col("_thr"), how="inner"
    ).drop("_thr")
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    n_sp = len(specials)
    words = (
        surv.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_size)
        .select(
            (F.col("_rn") - 1 + n_sp).cast("int").alias("token_id"),
            "token",
            "n",
            F.lit(False).alias("is_special"),
        )
    )
    spark = df.sparkSession
    sp = spark.createDataFrame(
        list(enumerate(specials)), "token_id int, token string"
    ).select(
        "token_id",
        "token",
        F.lit(None).cast("bigint").alias("n"),
        F.lit(True).alias("is_special"),
    )
    return sp.unionByName(words)


def length_quantiles(
    df: DataFrame,
    text_col: str = "text",
    qs: tuple[float, ...] = (0.0, 0.25, 0.5, 0.75, 1.0),
) -> DataFrame:
    """EXACT token-length quantiles of the corpus — the length
    distribution report every curation pass starts from. Output
    (q, n_tok) with the lower-rank convention n_tok = value at rank
    floor(q * (N - 1)) + 1 (1-based), so q=0/1 are exact min/max and no
    float interpolation exists anywhere (bit-portable).

    Scale shape: exact quantiles normally need a total order, but token
    length has a SMALL VALUE DOMAIN — so aggregate to (n_tok, cnt)
    first (one map-side-combinable shuffle over the corpus), then take
    the running sum over the aggregated frame. The unpartitioned window
    runs over distinct LENGTHS (bounded by max doc length, thousands of
    rows at any corpus size), never over corpus rows — this is the
    integer-domain trick that makes exact quantiles 100 TB-safe where
    a corpus-wide sort or percentile_approx's sketch error are not.
    """
    from pyspark.sql import Window

    lens = df.select(F.size(tokens_col(F.col(text_col))).alias("n_tok"))
    counts = lens.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    total = counts.agg(F.sum("cnt").alias("_n"))
    targets = cum.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame([(q,) for q in qs], "q double")
        )
    )
    hit = targets.filter(
        F.col("cum") >= F.floor(F.col("q") * (F.col("_n") - 1)) + 1
    )
    return hit.groupBy("q").agg(F.min("n_tok").alias("n_tok"))


def lm_score(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """CCNet-style language-model quality scoring: train a unigram LM on
    the corpus itself, score each document with its total surprisal, and
    bucket the corpus into head/middle/tail perplexity tertiles (the
    split CCNet feeds to downstream sampling — head = most-fluent third).

    Bit-portable by construction: token surprisal is the INTEGER
    ``floor(log2(T / freq))`` computed as ``length(bin(T div freq)) - 1``
    — exact in both engines because ``floor(log2(x)) == floor(log2(
    floor(x)))`` for x >= 1 (powers of two are integers), so no float
    ``log`` with engine-dependent rounding exists anywhere. The per-doc
    score is ``bits_per_kt = (total_bits * 1000) div n_tok`` (BIGINT).
    Integer surprisal is coarse (whole bits); it preserves the ordering
    a bucketing consumer needs, not a perplexity a reporting consumer
    would publish.

    Tertile thresholds use the same integer-domain trick as
    ``length_quantiles``: aggregate to (bits_per_kt, cnt) first, then
    rank over DISTINCT score values only (bounded domain), never over
    corpus rows; rank cut = ``floor(q * (N-1)) + 1`` with q = 1/3, 2/3
    in exact integer form. head <= t1 < middle <= t2 < tail.

    Plan at scale: one map-side-combinable (doc, term) tf agg, one term
    freq agg, a term-keyed join (AQE broadcasts the vocabulary side when
    it fits), one doc-keyed sum — then the threshold fold runs over the
    distinct-score frame (tiny). No corpus sort, no UDF, no driver loop
    beyond the 2-scalar threshold fold every corpus stat uses.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    )
    # ONE corpus explosion: freq rolls up from the (doc, term) tf frame
    # (vocabulary x docs rows, map-side combinable) instead of a second
    # pass over corpus tokens — the shape that matters at 100 TB, where
    # re-exploding the corpus costs a full scan. Under AQE the tf pin runs
    # its shuffle stage when it is called
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=False)
    freq = tf.groupBy("term").agg(F.sum("tf").alias("freq"))
    total = freq.agg(F.sum("freq").alias("_t"))
    bits = freq.crossJoin(F.broadcast(total)).select(
        "term",
        (F.length(F.bin(F.expr("_t div freq"))) - F.lit(1))
        .cast("bigint")
        .alias("bits"),
    )
    scored = (
        tf.join(bits, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(F.col("tf") * F.col("bits")).alias("lm_bits"),
        )
        .withColumn(
            "bits_per_kt",
            F.expr("CAST(lm_bits * 1000 div n_tok AS BIGINT)"),
        )
    )
    counts = scored.groupBy("bits_per_kt").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bits_per_kt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    n = counts.agg(F.sum("cnt").alias("_n"))
    thr = (
        cum.crossJoin(F.broadcast(n))
        .select(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(_n - 1) div 3 + 1"),
                    F.col("bits_per_kt"),
                )
            ).alias("_t1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("2 * (_n - 1) div 3 + 1"),
                    F.col("bits_per_kt"),
                )
            ).alias("_t2"),
        )
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tok",
        "lm_bits",
        "bits_per_kt",
        F.when(F.col("bits_per_kt") <= F.col("_t1"), F.lit("head"))
        .when(F.col("bits_per_kt") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def pack_sequences(df: DataFrame, budget: int = 2048,
                   n_buckets: int = 1024,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-shard packing: lay documents end-to-end in
    ``id_col`` order and assign each to the fixed token-budget pack its
    START offset falls in (docs may straddle a boundary — the loader's
    usual contract; pack_offset says where inside the pack the doc
    begins). Output (doc_id, n_tok, g_offset, pack_id, pack_offset).

    The global running offset is the classic two-level scan, shaped so
    NO window ever sees corpus rows unpartitioned: docs hash to a FIXED
    number of order-preserving buckets (``doc_id div width`` with width
    from one max() scalar fold), the intra-bucket cumsum is a window
    PARTITIONED by bucket, and the cross-bucket prefix is a running sum
    over the bucket totals — a frame bounded by ``n_buckets`` (1024)
    at ANY corpus size, the same bounded-domain discipline as
    length_quantiles. One bucket-keyed shuffle over the corpus total.
    """
    from pyspark.sql import Window

    lens = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.size(tokens_col(F.col(text_col))).cast("bigint").alias("n_tok"),
    )
    mx = lens.agg(F.max("doc_id").alias("_mx"))
    b = lens.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "n_tok",
        F.expr(f"doc_id div ((_mx + {n_buckets}) div {n_buckets})")
        .cast("bigint")
        .alias("bucket"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("local_cum", F.sum("n_tok").over(w_local))
    totals = b.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prefix = totals.withColumn(
        "bprefix", F.sum("btot").over(w_b) - F.col("btot")
    ).select("bucket", "bprefix")
    return (
        local.join(F.broadcast(prefix), "bucket")
        .select(
            "doc_id",
            "n_tok",
            (F.col("bprefix") + F.col("local_cum") - F.col("n_tok"))
            .alias("g_offset"),
        )
        .select(
            "doc_id",
            "n_tok",
            "g_offset",
            F.expr(f"g_offset div {budget}").cast("bigint").alias("pack_id"),
            (F.col("g_offset") % budget).cast("bigint").alias("pack_offset"),
        )
    )
