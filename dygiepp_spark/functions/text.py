"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

All JVM-side (built-in functions only — no Python in the hot path); each
has a DuckDB SQL twin in dygiepp_spark.oracles_text for the parity gate.
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


def _quality_expr():
    """The composite score over :func:`quality_features` columns, rounded
    to 6 places: 0.4 length + 0.3 low-punctuation + 0.3 stopword terms."""
    score = (
        F.least(F.col("n_tokens").cast("double") / F.lit(20.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 10.0, F.lit(1.0)) * 0.3
    )
    return F.round(score, 6)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0, 1]: penalize too-short docs, extreme
    punctuation, and zero stopwords. Deterministic integer-ratio math."""
    return quality_features(df, text_col).withColumn("quality", _quality_expr())


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
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    with_quality: bool = False,
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
    out = [
        F.col(id_col),
        F.col("n_tokens"),
        bits.cast("int").alias("reason_bits"),
        (bits == 0).alias("keep"),
    ]
    if with_quality:
        # the composite score from the SAME quality_features pass —
        # callers correlating rules vs score (quality_decile_yield) get
        # both from one corpus scan instead of two
        out.append(_quality_expr().alias("quality"))
    return j.select(*out)


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


def tfidf_topk(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Per-document tf-idf keyword extraction: the top-``k`` terms of each
    document by ``tf * idf``, the classic curation primitive (document
    topic tagging / keyword indexing) sitting between ``word_token_count``
    (per-doc) and the corpus-level ``vocab_topk``.

    Engine-portable by construction: idf is the *integer*
    ``(N * idf_scale) div df_term`` (floor division — BIGINT-exact in both
    Spark and DuckDB, no float log), score = ``tf * idf`` stays BIGINT,
    and the per-doc cut is row_number with a total-order tiebreak
    (score desc, term asc). NOTE: the integer idf is NOT rank-equivalent
    to textbook ``tf * log(N/df)`` — when tf and df trade off, the linear
    ``N/df`` weighting can order terms differently than the log form, so
    a consumer expecting textbook tf-idf rankings should not assume they
    match.

    Plan at scale: tf is a map-side-combinable (doc, term) agg; document
    frequency is a two-stage distinct agg on term; the idf join keys both
    sides on term (AQE broadcasts the vocab-sized side when it fits); the
    final cut is a window partitioned by doc_id. Three keyed shuffles, no
    driver loop (N is one scalar count, the same 1-row fold the other
    corpus stats use).
    """
    from dygiepp_spark.operators.pruning import topk_per_group

    n_docs = df.select(id_col).distinct().count()
    tok = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df_term")
    )
    idf = dfreq.select(
        "term",
        F.expr(f"CAST({n_docs}L * {idf_scale}L div df_term AS BIGINT)").alias(
            "idf_q"
        ),
    )
    # no broadcast hint: a web-scale vocabulary can exceed the driver;
    # AQE broadcasts automatically when the aggregated term frame is small
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        "tf",
        (F.col("tf") * F.col("idf_q")).cast("bigint").alias("score"),
    )
    return topk_per_group(
        scored, ["doc_id"], "score", k, tiebreak_cols=["term"]
    )


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
    would publish — documented, like tfidf's integer idf.

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


def bpe_pair_counts(df: DataFrame, k: int = 50,
                    text_col: str = "text") -> DataFrame:
    """One merge-round of BPE training: weighted adjacent-symbol-pair
    frequencies over the corpus word-frequency table (symbols start as
    single characters, so an adjacent pair IS a 2-char substring), cut
    to the top-``k`` merge candidates under the (n DESC, pair ASC)
    total order — the candidate table the reference-world subword-nmt
    `get_stats` step produces before each merge.

    Plan at scale: word frequencies are one map-side-combinable agg
    (vocabulary-sized output, NOT corpus-sized); pair explosion runs
    over the word TYPES weighted by freq — corpus length never touches
    the pair stage. The global cut reuses kth_score_threshold so no
    unpartitioned window sees the full pair table.
    """
    from dygiepp_spark.operators.pruning import kth_score_threshold
    from pyspark.sql import Window

    wf = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
        "f",
    ).groupBy("pair").agg(F.sum("f").alias("n"))
    thr = kth_score_threshold(pairs, "n", k)
    surv = pairs.join(
        F.broadcast(thr), on=F.col("n") >= F.col("_thr"), how="inner"
    ).drop("_thr")
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        surv.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("pair", "n", (F.col("_rn") - 1).cast("int").alias("rank"))
    )


def _rx_quote(s: str) -> str:
    """Java-regex literal quoting (Pattern.quote semantics): wrap in
    \\Q...\\E, with any embedded '\\E' closed, escaped, and reopened —
    naive splicing would let a symbol containing '\\E' terminate the
    quote and crash (or silently mis-merge) the pattern."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _merge_pattern(a: str, b: str) -> str:
    """Non-consuming adjacent-pair pattern for one BPE merge: lookarounds
    keep the surrounding spaces so overlapping runs merge left-to-right
    exactly like subword-nmt's substitution."""
    return "(?<= )" + _rx_quote(a) + " " + _rx_quote(b) + "(?= )"


def _merge_replacement(ab: str) -> str:
    """Java-regex replacement-string escaping for the joined symbol."""
    return ab.replace("\\", "\\\\").replace("$", "\\$")


def bpe_train(df: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> list[tuple[str, str]]:
    """Greedy BPE merge learning (subword-nmt semantics): repeatedly pick
    the most frequent adjacent symbol pair (ties -> lexicographically
    smallest joined pair) and merge its occurrences left-to-right in
    every word. Returns the learned merge list.

    Distributed shape: the corpus collapses to the word-TYPE frequency
    table once (one map-side-combinable agg); every round is then a
    pair-count agg over word types + ONE collected row (the argmax — a
    1-row scalar fold per round, the same driver-side shape every
    reference BPE trainer has) + a JVM regexp merge pass. Words are
    carried space-joined; the merge regex uses non-consuming lookarounds
    so overlapping runs merge left-to-right exactly like subword-nmt's
    ``(?<!\\S)a b(?!\\S)`` substitution. localCheckpoint per round keeps
    the plan linear in rounds (the k-core lesson).

    No oracle twin: iterative argmax-then-rewrite is not one SQL
    expression; correctness is pinned by a pytest against a pure-Python
    reference implementation on the same corpus.
    """
    wf = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            F.concat_ws(" ", F.split(F.col("w"), "(?!^)(?=.)")).alias("sym"),
            "f",
        )
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            wf.select(F.split(F.col("sym"), " ").alias("arr"), "f")
            .filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1),"
                        " i -> concat(element_at(arr, i), ' ',"
                        " element_at(arr, i + 1)))"
                    )
                ).alias("pair"),
                "f",
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["pair"].split(" ", 1)
        merges.append((a, b))
        wf = wf.select(
            F.trim(
                F.regexp_replace(
                    F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                    _merge_pattern(a, b),
                    # lookarounds leave the surrounding spaces in place —
                    # the replacement is the bare joined symbol
                    _merge_replacement(a + b),
                )
            ).alias("sym"),
            "f",
        ).localCheckpoint()
    return merges


def source_mix(df: DataFrame, text_col: str = "text",
               source_col: str = "source") -> DataFrame:
    """Training-data mixture weighting over the corpus' source labels:
    per-source document/token counts, the natural token share, and the
    temperature-smoothed sampling mixture w_i ∝ p_i^0.5 (the standard
    alpha-smoothing that up-weights small sources, alpha fixed at 1/2 so
    the power is ``sqrt`` — IEEE-754 correctly rounded in BOTH engines,
    unlike ``pow(x, 0.7)``, and floored to BIGINT so every downstream
    number stays integer-exact). Shares are parts-per-million via BIGINT
    floor division.

    Output: (source, n_docs, n_tok, natural_ppm, weight, mix_ppm).

    Plan at scale: ONE map-side-combinable agg over the corpus keyed by
    source; everything after runs on the source dimension (broadcast
    scalar folds). The skew story is the agg's: partial aggregation
    absorbs a dominant source map-side.
    """
    per_src = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens_col(F.col(text_col)))).alias("n_tok"),
        )
        .withColumn(
            "weight", F.floor(F.sqrt(F.col("n_tok"))).cast("bigint")
        )
    )
    tot = per_src.agg(
        F.sum("n_tok").alias("_t"), F.sum("weight").alias("_w")
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tok",
        F.expr("CAST(n_tok * 1000000 div _t AS BIGINT)").alias("natural_ppm"),
        "weight",
        F.expr("CAST(weight * 1000000 div _w AS BIGINT)").alias("mix_ppm"),
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


#: DSIR hashed-feature dimensionality (Xie et al. 2023 use 10^4; a fixed
#: power of two keeps the bucket dim broadcast-trivial at any scale)
DSIR_BUCKETS = 4096


def dsir_weights(df: DataFrame, target_filter: Column | None = None,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """DSIR-style data-selection importance weights (hashed n-gram
    variant of Xie et al. 2023): score every document by how much more
    likely its tokens are under the TARGET distribution (rows matching
    ``target_filter``; default ``lang = 'en'``) than under the RAW
    corpus distribution. Tokens hash into ``DSIR_BUCKETS`` fixed
    buckets (portable hash60 mod), add-1 smoothed.

    Integer-exact like lm_score: per-bucket surprisal is the integer
    ``floor(log2(T div c))`` (length(bin(..)) - 1), and the document
    weight is ``dsir_bits = Σ tf * (bits_raw - bits_target)`` — POSITIVE
    means the doc looks more target-like than the corpus average (the
    raw distribution assigns it more surprisal than the target one), so
    selection = the top of the dsir_bits ordering. Coarse whole-bit
    resolution, same documented tradeoff as lm_score's.

    Plan at scale: one (doc, bucket) tf agg + two bucket-dim aggs
    (4096 rows each — broadcast dims), one broadcast join back, one
    doc-keyed sum. The smoothing domain is the set of buckets observed
    in the raw corpus (identical in both engines by construction).
    """
    if target_filter is None:
        target_filter = F.col("lang") == "en"
    tok = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        target_filter.alias("is_tgt"),
        F.explode(tokens_col(F.col(text_col))).alias("term"),
    ).select(
        "doc_id",
        "is_tgt",
        (hash60(F.col("term")) % DSIR_BUCKETS).alias("bucket"),
    )
    # ONE corpus explosion: is_tgt is constant per doc, so grouping it
    # into the tf key is free, and the bucket-dim counts roll up from tf
    # instead of a second corpus pass (same single-scan shape as lm_score;
    # under AQE the tf3 pin runs its shuffle stage when it is called)
    tf3 = tok.groupBy("doc_id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    tf = tf3.select("doc_id", "bucket", "tf")
    per_bucket = tf3.groupBy("bucket").agg(
        (F.sum("tf") + F.lit(1)).alias("c_raw"),
        (F.sum(F.when(F.col("is_tgt"), F.col("tf")).otherwise(0))
         + F.lit(1)).alias("c_tgt"),
    )
    tots = per_bucket.agg(
        F.sum("c_raw").alias("_tr"), F.sum("c_tgt").alias("_tt")
    )
    bits = per_bucket.crossJoin(F.broadcast(tots)).select(
        "bucket",
        (F.length(F.bin(F.expr("_tr div c_raw"))) - 1)
        .cast("bigint")
        .alias("bits_raw"),
        (F.length(F.bin(F.expr("_tt div c_tgt"))) - 1)
        .cast("bigint")
        .alias("bits_tgt"),
    )
    return (
        tf.join(bits, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(
                F.col("tf") * (F.col("bits_raw") - F.col("bits_tgt"))
            ).alias("dsir_bits"),
        )
    )


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Apply a learned BPE merge list (from :func:`bpe_train`) — the
    other half of the tokenizer: output (doc_id, n_tok, n_subwords,
    subwords) where ``subwords`` is each word's final symbol sequence
    concatenated in document order.

    Distributed shape: merges apply over the DISTINCT word types, not
    corpus tokens — one distinct agg, then a chain of ``len(merges)``
    row-local lookaround regexp passes (identical greedy left-to-right
    semantics as training), then one broadcast-friendly join back onto
    the exploded corpus (AQE broadcasts the vocabulary side) and one
    doc-keyed reassembly. Corpus text is scanned once.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "w"),
    )
    types = tok.select("w").distinct().select(
        "w",
        F.concat_ws(" ", F.split(F.col("w"), "(?!^)(?=.)")).alias("sym"),
    )
    sym = F.col("sym")
    for a, b in merges:
        sym = F.regexp_replace(
            F.concat(F.lit(" "), sym, F.lit(" ")),
            _merge_pattern(a, b),
            _merge_replacement(a + b),
        )
        sym = F.trim(sym)
    typed = types.select("w", F.split(sym, " ").alias("pieces"))
    joined = tok.join(typed, "w")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.size("pieces")).alias("n_subwords"),
            F.array_sort(
                F.collect_list(F.struct("pos", "pieces"))
            ).alias("_ps"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_subwords",
            F.flatten(F.expr("transform(_ps, x -> x.pieces)")).alias(
                "subwords"
            ),
        )
    )


def pmi_pairs(df: DataFrame, k: int = 50, min_count: int = 5,
              scale: int = 1_000_000,
              text_col: str = "text") -> DataFrame:
    """Collocation extraction: the top-``k`` adjacent word bigrams by
    pointwise mutual information — the classic corpus statistic for
    multiword predicates/entities feeding KG schema induction.

    Ranking is by the INTEGER ratio ``r = (c_ab * scale) div (c_a * c_b)``
    — log is monotone, so ordering by the probability ratio equals
    ordering by PMI, with global constants (N, N_tok) dropped as they do
    not reorder; the reported ``pmi_q`` is therefore a rank-faithful
    quantized score, not log-PMI in nats (documented, same contract as
    tfidf's integer idf). ``min_count`` removes the low-support pairs PMI
    notoriously over-ranks. Overflow bound: c_ab * scale must stay under
    2^63 — holds whenever the corpus has < ~9e12 bigram occurrences per
    pair at the default scale; the floor-log2 form is the drop-in for
    corpora beyond it.

    Plan: bigram and unigram counts are two map-side-combinable aggs over
    one corpus explosion each; the two joins key on the unigram dim (AQE
    broadcasts vocabulary-sized sides); the global cut reuses the
    distributed k-th-score threshold — no unpartitioned window over the
    pair table.
    """
    from pyspark.sql import Window

    from dygiepp_spark.operators.pruning import kth_score_threshold

    toks = df.select(tokens_col(F.col(text_col)).alias("arr")).filter(
        F.size("arr") >= 2
    )
    bigrams = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1), i ->"
                    " struct(element_at(arr, i) AS a,"
                    " element_at(arr, i + 1) AS b))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uni = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        bigrams.join(uni.withColumnRenamed("w", "a"), "a")
        .withColumnRenamed("c", "c_a")
        .join(uni.withColumnRenamed("w", "b"), "b")
        .withColumnRenamed("c", "c_b")
        .select(
            "a", "b", "c_ab", "c_a", "c_b",
            F.expr(f"CAST(c_ab * {scale}L div (c_a * c_b) AS BIGINT)").alias(
                "pmi_q"
            ),
        )
    )
    thr = kth_score_threshold(scored, "pmi_q", k)
    surv = scored.join(
        F.broadcast(thr), on=F.col("pmi_q") >= F.col("_thr"), how="inner"
    ).drop("_thr")
    w = Window.orderBy(
        F.col("pmi_q").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return (
        surv.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def shard_manifest(docs: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic export-shard plan for a training-data dump: assign
    every document ``shard = hash60(doc_id) % n_shards`` (content-
    independent, so re-export after an edit keeps placement) and report
    per shard the doc count, total characters, and whitespace-token
    total — the manifest a 100 TB export job uses to verify balanced
    writers BEFORE shuffling anything, and the receiving trainer uses
    as a checksum.

    Scale: one scan, one map-side-combinable agg on the shard key;
    hash-mod placement is uniform so the manifest doubles as a skew
    alarm (a shard far off corpus_size/n_shards means doc_id keys are
    degenerate).
    """
    from dygiepp_spark.functions.hashing import hash60

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(n_shards))
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    return (
        docs.select(
            shard.alias("shard"),
            F.length("text").alias("_chars"),
            toks.alias("_toks"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").cast("bigint").alias("n_chars"),
            F.sum("_toks").cast("bigint").alias("n_tokens"),
        )
    )


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source duplication matrix — which corpus sources copy each
    other: for every source pair, how many distinct document
    fingerprints (minhash ``fp_0`` of :func:`fingerprint`) appear in
    BOTH, plus each side's distinct-fingerprint count and the
    containment ratio ``n_shared / min(n_a, n_b)``. The table that
    decides source-level dedup order before a mixing run (drop the
    contained mirror, keep the superset).

    Scale: the pair join runs on the DEDUPED (source, fp) frame, so
    fan-out per fingerprint is bounded by the source-dimension
    cardinality squared — never by document count; both count aggs are
    map-side combinable; the ratio is one exact-integer division.
    """
    fps = fingerprint(docs, k=1)  # only fp_0 is consumed
    sf = (
        fps.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fp_0")
        .distinct()
        .localCheckpoint(eager=False)
    )
    per = sf.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sf.select(F.col("source").alias("source_a"), "fp_0")
    b = sf.select(F.col("source").alias("source_b"), "fp_0")
    shared = (
        a.join(b, "fp_0")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = per.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    nb = per.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            (
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
    )


def length_curriculum(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Curriculum-stage assignment by token length: every document gets
    ``stage`` 0/1/2 by the EXACT corpus length tertiles (from
    :func:`length_quantiles`' integer-domain trick — no sketch error,
    no corpus sort), the standard shortest-first schedule for LM
    curriculum training. Boundary docs (n_tok == a tertile value) land
    in the lower stage, so stages are reproducible set partitions.

    Scale: the tertile thresholds are a 2-row broadcast (derived from
    the (length, count) agg); the assignment is one codegen'd
    projection over the corpus — no per-doc shuffle at all.
    """
    thr = (
        length_quantiles(df, text_col=text_col, qs=(1 / 3, 2 / 3))
        .agg(
            F.min(F.when(F.col("q") < 0.5, F.col("n_tok"))).alias("t1"),
            F.min(F.when(F.col("q") > 0.5, F.col("n_tok"))).alias("t2"),
        )
    )
    lens = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(F.col(text_col))).alias("n_tok"),
    )
    return lens.crossJoin(F.broadcast(thr)).select(
        "doc_id", "n_tok",
        F.when(F.col("n_tok") <= F.col("t1"), F.lit(0))
        .when(F.col("n_tok") <= F.col("t2"), F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
        .alias("stage"),
    )


def ngram_coverage(df: DataFrame, k: int = 100,
                   text_col: str = "text") -> DataFrame:
    """Vocabulary-concentration report: what share of all token
    OCCURRENCES the top-``k`` unigram types cover (rank ties included,
    so the cut is deterministic) — the Zipf head-weight number that
    sizes subword vocabularies and decides whether a frequency-based
    filter is even worth running.

    Output, one row: ``(n_top_types, covered, total, coverage)``;
    ``coverage`` is a single exact-integer division.

    Scale: unigram counts are one map-side-combinable agg; the top-k
    cut reuses the distributed k-th-score threshold (no unpartitioned
    window over the vocabulary); the final fold is a 1-row agg.
    """
    from dygiepp_spark.operators.pruning import kth_score_threshold

    if k < 1:
        raise ValueError("k must be >= 1")
    uni = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=False)
    thr = kth_score_threshold(uni, "c", k)
    return (
        uni.crossJoin(F.broadcast(thr))
        .agg(
            F.sum(F.when(F.col("c") >= F.col("_thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_top_types"),
            F.sum(F.when(F.col("c") >= F.col("_thr"), F.col("c")))
            .cast("bigint")
            .alias("covered"),
            F.sum("c").cast("bigint").alias("total"),
        )
        .select(
            "n_top_types",
            F.coalesce(F.col("covered"), F.lit(0).cast("bigint")).alias(
                "covered"
            ),
            "total",
            (
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.greatest(F.col("total"), F.lit(1)).cast("double")
            ).alias("coverage"),
        )
    )


def pack_efficiency(df: DataFrame, budget: int = 2048,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Packing-utilization report over :func:`pack_sequences` output —
    the loader-throughput number a packing config is judged by: per
    pack, how many docs start in it and how many tokens they carry;
    rolled up to one row of ``(n_packs, n_docs, total_tokens,
    mean_docs_per_pack, mean_fill)`` where ``mean_fill`` is mean
    start-attributed tokens per pack over the budget (straddling docs
    attribute to their start pack, matching the packer's contract).

    Scale: one agg on pack_id over the packer's output + a 1-row fold;
    both divisions exact-integer.
    """
    packed = pack_sequences(df, budget=budget, text_col=text_col,
                            id_col=id_col)
    per = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("toks"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
    ).select(
        "n_packs", "n_docs", "total_tokens",
        (
            F.col("n_docs").cast("double") / F.col("n_packs").cast("double")
        ).alias("mean_docs_per_pack"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_packs") * budget).cast("double")
        ).alias("mean_fill"),
    )


def source_language_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source language composition: (source, pred_lang, n_docs,
    share) over the stopword-heuristic language ID — the mixing-table
    input a multilingual run reads per feed (a feed whose declared
    language disagrees with its predicted mix is mislabeled upstream).

    Scale: langid is row-local; the rollup is one map-side-combinable
    agg on (source, lang) plus a broadcast of the per-source totals;
    share is one exact-integer division.
    """
    pred = langid(df, text_col=text_col).select("source", "pred_lang")
    per = pred.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("_t"))
    return per.join(F.broadcast(tot), "source").select(
        "source", "pred_lang", "n_docs",
        (
            F.col("n_docs").cast("double") / F.col("_t").cast("double")
        ).alias("share"),
    )


def quality_decile_yield(df: DataFrame) -> DataFrame:
    """Filter-behavior-by-quality report: bin documents by composite
    quality decile (top edge folded into bin 9) and count how many the
    rule-based :func:`composite_filter` keeps per bin — the calibration
    table that says whether the hard rules and the soft score agree
    (a high keep-rate in the bottom decile means the rules miss what
    the score catches, and vice versa).

    Scale: ONE corpus scan — the score is derived inside
    composite_filter's own quality_features pass (with_quality=True),
    so nothing is computed twice; the rollup is one map-side-combinable
    agg over ten bins; keep_rate is one exact-integer division.
    """
    j = composite_filter(df, with_quality=True).select(
        "doc_id", "keep", "quality"
    )
    b = F.least(
        F.floor(F.col("quality") * 10).cast("bigint"),
        F.lit(9).cast("bigint"),
    )
    return (
        j.groupBy(b.alias("q_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "q_bin", "n_docs", "n_kept",
            (
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
            ).alias("keep_rate"),
        )
    )


def coverage_curve(df: DataFrame, ks: tuple[int, ...] = (1, 5, 10, 20),
                   text_col: str = "text") -> DataFrame:
    """The Zipf coverage CURVE: :func:`ngram_coverage` at several ``k``
    from ONE pinned vocabulary scan — the table that picks a subword
    vocabulary size by reading where the curve flattens, instead of
    probing k values one run at a time.

    Scale: the corpus is scanned once (the unigram agg is pinned); each
    k adds a distributed k-th-score threshold (no vocabulary window)
    and a 1-row fold — len(ks) trivially-sized jobs over the
    vocabulary-bounded frame.
    """
    from functools import reduce

    from dygiepp_spark.operators.pruning import kth_score_threshold

    if not ks or any(k < 1 for k in ks):
        raise ValueError("ks must be non-empty with every k >= 1")
    uni = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=False)
    frames = []
    for k in ks:
        thr = kth_score_threshold(uni, "c", k)
        frames.append(
            uni.crossJoin(F.broadcast(thr))
            .agg(
                F.sum(F.when(F.col("c") >= F.col("_thr"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_top_types"),
                F.sum(F.when(F.col("c") >= F.col("_thr"), F.col("c")))
                .cast("bigint")
                .alias("covered"),
                F.sum("c").cast("bigint").alias("total"),
            )
            .select(
                F.lit(k).cast("bigint").alias("k"),
                "n_top_types",
                F.coalesce(F.col("covered"), F.lit(0).cast("bigint")).alias(
                    "covered"
                ),
                "total",
                (
                    F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                    / F.greatest(F.col("total"), F.lit(1)).cast("double")
                ).alias("coverage"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def filter_rate_by_source(df: DataFrame) -> DataFrame:
    """Per-source rule-filter yield — the third per-feed report next to
    the dedup and contamination rates: ``(source, n_docs, n_kept,
    keep_rate)`` from the Gopher/C4 composite filter. A feed whose keep
    rate collapses is raw boilerplate; procurement reads this trilogy
    before renewing it.

    Scale: the filter is the existing single-scan chain; the rollup is
    one doc-keyed join to the (doc_id, source) projection and one
    map-side-combinable agg; keep_rate is one exact-integer division.
    """
    verdicts = composite_filter(
        df.select("doc_id", "text")
    ).select("doc_id", "keep")
    j = verdicts.join(df.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "source", "n_docs", "n_kept",
            (
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
            ).alias("keep_rate"),
        )
    )
