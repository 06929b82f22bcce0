"""DuckDB oracle twins for the training-data-pipeline queries
(dedup / text analysis / multimodal).

Portability contract (see dygiepp_spark.functions.hashing):

* all hashing is md5-based (``hash60``: first 15 hex chars as BIGINT);
* all ranking scores are exact integer arithmetic or single IEEE
  operations over exact integers;
* jaccard/ratios are one double division of two exact integers;
* every window carries a total-order tiebreak.
"""

from __future__ import annotations

from dygiepp_spark.functions.hashing import hash60_sql, hash_family_from_sql
from dygiepp_spark.functions.text import LANG_STOPWORDS
from dygiepp_spark.operators.dedup import (
    N_BANDS,
    N_HASHES,
    ROWS_PER_BAND,
    SIMHASH_BAND_BITS,
    SIMHASH_BITS,
)
from dygiepp_spark.operators.multimodal import FRAME_STRIDE

# --------------------------------------------------------------------------
# chunks + shingles (twins of dedup.doc_chunks / dedup.shingles)
# --------------------------------------------------------------------------

CHUNKS_SQL = """
doc_toks AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM documents
),
doc_toks_n AS (
    SELECT doc_id, toks, len(toks) AS n FROM doc_toks WHERE len(toks) >= 3
),
chunks AS (
    SELECT doc_id * 2 AS chunk_id,
           array_to_string(list_slice(toks, 1, CAST(ceil(n * 2.0 / 3.0) AS INT)), ' ') AS text
    FROM doc_toks_n
    UNION ALL
    SELECT doc_id * 2 + 1,
           array_to_string(list_slice(toks, CAST(floor(n / 3.0) AS INT) + 1, n), ' ')
    FROM doc_toks_n
)
"""

SHINGLES_SQL = """
chunk_toks AS (
    SELECT chunk_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM chunks
),
shingled AS (
    SELECT chunk_id AS id,
           unnest(list_distinct(list_transform(
               range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1]))) AS shingle
    FROM chunk_toks
    WHERE len(toks) >= 2
)
"""

_DEDUP_BASE = f"WITH {CHUNKS_SQL.strip()} , {SHINGLES_SQL.strip()}"

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def dedup_exact_oracle() -> str:
    return f"""
SELECT md5({_NORM}) AS text_hash,
       min(CAST(doc_id AS BIGINT)) AS canonical_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1"""


def dedup_tokenset_oracle() -> str:
    toks = f"list_filter(string_split({_NORM}, ' '), t -> t <> '')"
    return f"""
SELECT md5(array_to_string(list_sort(list_distinct({toks})), ' ')) AS set_hash,
       min(CAST(doc_id AS BIGINT)) AS canonical_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1"""


def _minhash_aggs() -> str:
    parts = []
    for i in range(N_HASHES):
        parts.append(f"min({hash_family_from_sql(f'h{i % 2}', i)}) AS mh_{i}")
    return ",\n           ".join(parts)


def _minhash_pairs_ctes(thresh: float = 0.25, max_bucket: int = 1000) -> str:
    """The shared minhash CTE chain (hashed -> sigs -> buckets -> cand
    -> sets -> ver) — single source for near_dups_minhash_oracle and
    minhash_error_hist_oracle so the twins can never desynchronize."""
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT id, {b} AS band, '{b}:' || CAST(mh_{b * ROWS_PER_BAND} AS VARCHAR)"
        f" || ':' || CAST(mh_{b * ROWS_PER_BAND + 1} AS VARCHAR) AS bucket FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""{_DEDUP_BASE},
hashed AS (SELECT id, {hash60_sql('shingle')} AS h0,
                  {hash60_sql("'b:' || shingle")} AS h1 FROM shingled),
sigs AS (
    SELECT id,
           {_minhash_aggs()}
    FROM hashed GROUP BY id
),
buckets AS (
    {bands}
),
bcounts AS (SELECT band, bucket, count(*) AS n FROM buckets GROUP BY 1, 2),
ok AS (
    SELECT b.* FROM buckets b JOIN bcounts c USING (band, bucket)
    WHERE c.n <= {max_bucket}
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.id < b.id
),
sets AS (
    SELECT id, list_sort(list_distinct(list(shingle))) AS sh
    FROM shingled GROUP BY id
),
ver AS (
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                 AS jaccard
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b
    )
    WHERE jaccard >= {thresh}
)"""


def near_dups_minhash_oracle(thresh: float = 0.25, max_bucket: int = 1000) -> str:
    return f"""{_minhash_pairs_ctes(thresh, max_bucket)}
SELECT id_a, id_b, jaccard FROM ver"""


def near_dups_simhash_oracle(max_hamming: int = 6) -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT id, simhash, {b} AS band, (simhash >> {b * SIMHASH_BAND_BITS}) & {mask} AS val FROM sigs"
        for b in range(n_bands)
    )
    return f"""{_DEDUP_BASE},
hashed AS (SELECT id, {hash60_sql('shingle')} AS h FROM shingled),
bitsums AS (
    SELECT id,
           {bit_sums}
    FROM hashed GROUP BY id
),
sigs AS (SELECT id, {sig_terms} AS simhash FROM bitsums),
bk AS (
    {bands}
),
pairs AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def ngram_jaccard_oracle(thresh: float = 0.25, block_width: int = 16) -> str:
    return f"""{_DEDUP_BASE},
sets AS (
    SELECT id, list_sort(list_distinct(list(shingle))) AS sh,
           count(*) AS n_sh
    FROM shingled GROUP BY id
),
blocks AS (
    SELECT *, CAST(floor(n_sh / {block_width}.0) AS BIGINT) AS block FROM sets
)
SELECT id_a, id_b, jaccard FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
             AS jaccard
    FROM blocks a JOIN blocks b ON a.block = b.block AND a.id < b.id
)
WHERE jaccard >= {thresh}"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

_DTOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


def token_counts_oracle() -> str:
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len({_DTOKS}) AS INT) AS n_tokens,
       CAST(list_sum(list_transform({_DTOKS},
            t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_tokens
FROM documents"""


def langid_oracle() -> str:
    langs = list(LANG_STOPWORDS)
    ltoks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    hits = ",\n       ".join(
        f"len(list_filter(ltoks, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS h_{lg}"
        for lg, ws in LANG_STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN h_{lg} = m THEN '{lg}'" for lg in langs)
    return f"""
WITH lt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {ltoks} AS ltoks FROM documents),
hits AS (
    SELECT doc_id,
       {hits}
    FROM lt
),
withmax AS (SELECT *, {best} AS m FROM hits)
SELECT doc_id,
       CASE WHEN m > 0 THEN (CASE {case} END) ELSE 'und' END AS pred_lang
FROM withmax"""


def quality_oracle() -> str:
    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stops = ", ".join(repr(w) for w in stop_all)
    return f"""
WITH feat AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(text) AS n_chars,
           CAST(len({_DTOKS}) AS INT) AS n_tokens,
           length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
           len(list_filter({_DTOKS}, t -> lower(t) IN ({stops}))) AS n_stop,
           CAST(list_sum(list_transform({_DTOKS}, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_len
    FROM documents
),
ratios AS (
    SELECT doc_id, n_tokens,
           CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
           CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stopword_ratio,
           CASE WHEN n_tokens > 0
                THEN CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS mean_token_len
    FROM feat
)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
       round(
         least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4
         + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
         + least(stopword_ratio * 10.0, 1.0) * 0.3,
       6) AS quality
FROM ratios"""


def fingerprint_oracle(k: int = 4) -> str:
    fps = ",\n       ".join(
        f"min({hash_family_from_sql('h', i)}) AS fp_{i}" for i in range(k)
    )
    return f"""
WITH norm AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(length(nt) - 4, 1) + 1),
                                 i -> substr(nt, CAST(i AS INT), 5))) AS shingle
    FROM norm
),
hashed AS (SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh)
SELECT doc_id,
       {fps}
FROM hashed GROUP BY doc_id"""


# --------------------------------------------------------------------------
# multimodal (ASCII corpus: byte == codepoint, so char math == byte math)
# --------------------------------------------------------------------------

def image_meta_oracle(stride: int = FRAME_STRIDE) -> str:
    checksum = (
        f"CAST(list_sum(list_transform(range(0, (strlen(text) + {stride - 1}) // {stride}), "
        f"i -> ascii(substr(text, CAST(1 + {stride} * i AS INT), 1)))) % 256 AS INT)"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(1 + ascii(substr(text, 1, 1)) % 64 AS INT) AS width,
       CAST(1 + ascii(substr(text, 2, 1)) % 64 AS INT) AS height,
       {checksum} AS checksum
FROM documents"""


def frame_samples_oracle(stride: int = FRAME_STRIDE) -> str:
    checksum = (
        f"CAST(list_sum(list_transform(range(0, (strlen(text) + {stride - 1}) // {stride}), "
        f"i -> ascii(substr(text, CAST(1 + {stride} * i AS INT), 1)))) % 256 AS INT)"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST((strlen(text) + {stride - 1}) // {stride} AS INT) AS n_frames,
       {checksum} AS frame_checksum
FROM documents"""


# --------------------------------------------------------------------------
# PII detect/scrub (twin of functions.privacy.scrub_pii over the
# deterministically PII-augmented corpus — see privacy.with_synthetic_pii)
# --------------------------------------------------------------------------

def pii_scrub_oracle() -> str:
    from dygiepp_spark.functions.privacy import (
        EMAIL_MASK,
        EMAIL_RE,
        LONGNUM_MASK,
        LONGNUM_RE,
        PHONE_MASK,
        PHONE_RE,
    )

    scrubbed = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{EMAIL_RE}', '{EMAIL_MASK}', 'g'), "
        f"'{PHONE_RE}', '{PHONE_MASK}', 'g'), "
        f"'{LONGNUM_RE}', '{LONGNUM_MASK}', 'g')"
    )
    return f"""
WITH aug AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           text || ' contact user' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                || '@example.com'
                || ' or call +1 555-'
                || lpad(CAST(CAST(doc_id AS BIGINT) % 10000 AS VARCHAR), 4, '0')
                || ' ref '
                || CAST(CAST(doc_id AS BIGINT) * 1000003 + 999999937 AS VARCHAR)
               AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{LONGNUM_RE}')) AS INT) AS n_longnums,
       {scrubbed} AS clean_text
FROM aug"""


# --------------------------------------------------------------------------
# repetition metrics + stratified sampling
# (twins of functions.text.repetition_features / stratified_sample)
# --------------------------------------------------------------------------

def repetition_oracle() -> str:
    return f"""
WITH dt AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, {_DTOKS} AS toks FROM documents
),
base AS (
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens
    FROM dt
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM dt WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2),
top AS (
    SELECT doc_id, sum(n) AS n_2grams, max(n) AS top_n
    FROM gc GROUP BY doc_id
),
topg AS (
    SELECT gc.doc_id, min(gc.gram) AS top_2gram
    FROM gc JOIN top USING (doc_id)
    WHERE gc.n = top.top_n
    GROUP BY gc.doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
       CASE WHEN b.n_tokens > 0
            THEN 1.0 - (CAST(b.n_distinct_tokens AS DOUBLE)
                        / CAST(b.n_tokens AS DOUBLE))
            ELSE 0.0 END AS dup_token_frac,
       CAST(coalesce(t.n_2grams, 0) AS BIGINT) AS n_2grams,
       CAST(coalesce(t.top_n, 0) AS BIGINT) AS top_2gram_count,
       coalesce(CAST(t.top_n AS DOUBLE)
                / CAST(greatest(t.n_2grams, 1) AS DOUBLE), 0.0)
           AS top_2gram_frac,
       g.top_2gram
FROM base b
LEFT JOIN top t USING (doc_id)
LEFT JOIN topg g ON b.doc_id = g.doc_id"""


def stratified_sample_oracle(
    rates: dict[str, float] | None = None,
    default_rate: float = 0.1,
    scale: int = 10_000,
) -> str:
    rates = {"en": 0.5, "de": 0.25} if rates is None else rates
    case = " ".join(
        f"WHEN lang = '{v}' THEN {int(round(r * scale))}"
        for v, r in sorted(rates.items())
    )
    bucket = hash60_sql("lang || ':' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE ({bucket} % {scale})
      < (CASE {case} ELSE {int(round(default_rate * scale))} END)"""


# --------------------------------------------------------------------------
# benchmark decontamination (twin of operators.decontam.decontaminate;
# benchmark = doc_id % 97 == 0 slice of documents, corpus = the rest)
# --------------------------------------------------------------------------

def decontam_oracle(n: int = 3, mod: int = 97) -> str:
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n)).replace(
        "toks[i + 0]", "toks[i]"
    )
    rng = f"range(1, len(toks) - {n - 2})"
    grams = (
        f"unnest(list_distinct(list_transform({rng}, i -> {gram})))"
    )
    return f"""
WITH corpus AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
    WHERE CAST(doc_id AS BIGINT) % {mod} <> 0
),
bench AS (
    SELECT text FROM documents WHERE CAST(doc_id AS BIGINT) % {mod} = 0
),
ct AS (SELECT doc_id, {_DTOKS} AS toks FROM corpus),
cg AS (
    SELECT doc_id, {grams} AS gram FROM ct WHERE len(toks) >= {n}
),
bt AS (SELECT {_DTOKS} AS toks FROM bench),
bg AS (
    SELECT DISTINCT {grams} AS gram FROM bt WHERE len(toks) >= {n}
),
perdoc AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
hits AS (
    SELECT cg.doc_id, count(*) AS n_hit FROM cg JOIN bg USING (gram)
    GROUP BY 1
)
SELECT c.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_grams,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                 / CAST(p.n_grams AS DOUBLE)
            ELSE 0.0 END AS contam_frac,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM corpus c
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN hits h USING (doc_id)"""


# --------------------------------------------------------------------------
# corpus compaction: near-dup pairs -> groups -> keepers
# (twin of operators.compaction.near_dup_groups / compact_corpus; the
# DuckDB side computes components with a RECURSIVE reachability CTE — an
# independent formulation that cross-checks the iterative min-label
# propagation)
# --------------------------------------------------------------------------

def dedup_groups_oracle(thresh: float = 0.25, max_bucket: int = 1000) -> str:
    from dygiepp_spark.functions.hashing import hash60_sql as _h60

    bands = "\n    UNION ALL\n    ".join(
        f"SELECT id, {b} AS band, '{b}:' || CAST(mh_{b * ROWS_PER_BAND} AS VARCHAR)"
        f" || ':' || CAST(mh_{b * ROWS_PER_BAND + 1} AS VARCHAR) AS bucket FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""WITH RECURSIVE {CHUNKS_SQL.strip()} , {SHINGLES_SQL.strip()},
hashed AS (SELECT id, {_h60('shingle')} AS h0,
                  {_h60("'b:' || shingle")} AS h1 FROM shingled),
sigs AS (
    SELECT id,
           {_minhash_aggs()}
    FROM hashed GROUP BY id
),
buckets AS (
    {bands}
),
bcounts AS (SELECT band, bucket, count(*) AS n FROM buckets GROUP BY 1, 2),
ok AS (
    SELECT b.* FROM buckets b JOIN bcounts c USING (band, bucket)
    WHERE c.n <= {max_bucket}
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.id < b.id
),
sets AS (
    SELECT id, list_sort(list_distinct(list(shingle))) AS sh
    FROM shingled GROUP BY id
),
pairs AS (
    SELECT id_a, id_b FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                 AS jaccard
        FROM cand c
        JOIN sets sa ON sa.id = c.id_a
        JOIN sets sb ON sb.id = c.id_b
    )
    WHERE jaccard >= {thresh}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT chunk_id AS id FROM chunks),
walk AS (
    SELECT id, id AS r FROM nodes
    UNION
    SELECT w.id, e.dst AS r FROM walk w JOIN edges e ON e.src = w.r
),
groups AS (SELECT id, min(r) AS group_id FROM walk GROUP BY id),
sizes AS (SELECT group_id, CAST(count(*) AS INT) AS group_size
          FROM groups GROUP BY 1)
SELECT g.id, g.group_id, s.group_size, g.id = g.group_id AS is_keeper
FROM groups g JOIN sizes s USING (group_id)"""


# --------------------------------------------------------------------------
# composite quality filter (twin of functions.text.composite_filter)
# --------------------------------------------------------------------------

def quality_filter_oracle() -> str:
    from dygiepp_spark.functions.text import (
        FILTER_MAX_DUP_TOKEN_FRAC,
        FILTER_MAX_MEAN_TOK_LEN,
        FILTER_MAX_PUNCT_RATIO,
        FILTER_MAX_TOKENS,
        FILTER_MAX_TOP_2GRAM_FRAC,
        FILTER_MIN_MEAN_TOK_LEN,
        FILTER_MIN_STOPWORD_RATIO,
        FILTER_MIN_TOKENS,
    )

    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stops = ", ".join(repr(w) for w in stop_all)
    rules = [
        f"feat.n_tokens < {FILTER_MIN_TOKENS}",
        f"feat.n_tokens > {FILTER_MAX_TOKENS}",
        f"(mean_token_len < {FILTER_MIN_MEAN_TOK_LEN}"
        f" OR mean_token_len > {FILTER_MAX_MEAN_TOK_LEN})",
        f"dup_token_frac > {FILTER_MAX_DUP_TOKEN_FRAC}",
        f"top_2gram_frac > {FILTER_MAX_TOP_2GRAM_FRAC}",
        f"stopword_ratio < {FILTER_MIN_STOPWORD_RATIO}",
        f"punct_ratio > {FILTER_MAX_PUNCT_RATIO}",
    ]
    bits = " + ".join(
        f"(CASE WHEN {rule} THEN {1 << i} ELSE 0 END)"
        for i, rule in enumerate(rules)
    )
    return f"""
WITH feat AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(text) AS n_chars,
           CAST(len({_DTOKS}) AS INT) AS n_tokens,
           length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
           len(list_filter({_DTOKS}, t -> lower(t) IN ({stops}))) AS n_stop,
           CAST(list_sum(list_transform({_DTOKS}, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_len,
           {_DTOKS} AS toks
    FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM feat WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2),
top AS (SELECT doc_id, sum(n) AS n_2grams, max(n) AS top_n FROM gc GROUP BY 1),
ratios AS (
    SELECT feat.doc_id, feat.n_tokens,
           CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
           CAST(n_stop AS DOUBLE) / CAST(greatest(feat.n_tokens, 1) AS DOUBLE) AS stopword_ratio,
           CASE WHEN feat.n_tokens > 0
                THEN CAST(sum_len AS DOUBLE) / CAST(feat.n_tokens AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS mean_token_len,
           CASE WHEN feat.n_tokens > 0
                THEN 1.0 - (CAST(len(list_distinct(toks)) AS DOUBLE)
                            / CAST(feat.n_tokens AS DOUBLE))
                ELSE 0.0 END AS dup_token_frac,
           coalesce(CAST(t.top_n AS DOUBLE)
                    / CAST(greatest(t.n_2grams, 1) AS DOUBLE), 0.0) AS top_2gram_frac
    FROM feat LEFT JOIN top t ON feat.doc_id = t.doc_id
)
SELECT feat.doc_id, feat.n_tokens,
       CAST({bits} AS INT) AS reason_bits,
       ({bits}) = 0 AS keep
FROM ratios feat"""


# --------------------------------------------------------------------------
# URL / domain hygiene (twin of functions.web.url_stats over the
# deterministically URL-augmented corpus — see web.with_synthetic_urls)
# --------------------------------------------------------------------------

def url_filter_oracle() -> str:
    from dygiepp_spark.functions.web import DEFAULT_BLOCKLIST, HOST_RE, URL_RE

    blocked = ", ".join(repr(d) for d in DEFAULT_BLOCKLIST)
    return f"""
WITH aug AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           text || ' see https://host'
                || CAST(CAST(doc_id AS BIGINT) % 1000 AS VARCHAR)
                || '.example' || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
                || '.com/p/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                || ' and http://www.site'
                || CAST((CAST(doc_id AS BIGINT) * 7) % 500 AS VARCHAR)
                || '.org/a' || CAST(CAST(doc_id AS BIGINT) % 13 AS VARCHAR)
               AS text
    FROM documents
),
urls AS (
    SELECT doc_id, unnest(regexp_extract_all(text, '{URL_RE}')) AS url
    FROM aug
),
hosts AS (
    SELECT doc_id,
           string_split(regexp_extract(url, '{HOST_RE}', 1), '.') AS labels
    FROM urls
),
rd AS (
    -- single-label hosts (localhost) pass through, mirroring
    -- web.registered_domain's size(labels) >= 2 guard
    SELECT doc_id,
           CASE WHEN len(labels) >= 2
                THEN labels[-2] || '.' || labels[-1]
                ELSE labels[-1] END AS rd
    FROM hosts
),
counts AS (
    SELECT a.doc_id,
           CAST(count(r.rd) AS INT) AS n_urls,
           CAST(coalesce(sum(CASE WHEN r.rd IN ({blocked}) THEN 1 ELSE 0 END), 0) AS INT)
               AS n_blocked
    FROM aug a LEFT JOIN rd r ON a.doc_id = r.doc_id
    GROUP BY a.doc_id
)
SELECT doc_id, n_urls, n_blocked, n_blocked = 0 AS keep FROM counts"""


# --------------------------------------------------------------------------
# multimodal: resize + audio chunking (ASCII corpus: char math == byte math)
# --------------------------------------------------------------------------

def image_resize_oracle(max_dim: int | None = None) -> str:
    from dygiepp_spark.operators.multimodal import RESIZE_MAX_DIM

    d = RESIZE_MAX_DIM if max_dim is None else max_dim
    return f"""
WITH dims AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
           strlen(text) AS n,
           CAST(1 + ascii(substr(text, 1, 1)) % 64 AS INT) AS width,
           CAST(1 + ascii(substr(text, 2, 1)) % 64 AS INT) AS height
    FROM documents
),
plan AS (
    SELECT *,
           greatest(1, (width * {d}) // greatest(width, height)) AS out_w,
           greatest(1, (height * {d}) // greatest(width, height)) AS out_h
    FROM dims
),
strided AS (
    SELECT *,
           out_w * out_h AS out_cap,
           CASE WHEN n > 0 THEN greatest(1, n // (out_w * out_h)) ELSE 1 END AS stride
    FROM plan
),
sampled AS (
    SELECT *,
           least((n + stride - 1) // stride, out_cap) AS n_sample
    FROM strided
)
SELECT doc_id, width, height,
       CAST(out_w AS INT) AS out_width,
       CAST(out_h AS INT) AS out_height,
       CAST(n_sample AS INT) AS out_bytes,
       CAST(coalesce(list_sum(list_transform(range(0, CAST(n_sample AS INT)),
            i -> ascii(substr(text, CAST(1 + stride * i AS INT), 1)))), 0) % 256 AS INT)
           AS sample_checksum
FROM sampled"""


def audio_chunks_oracle(chunk_samples: int | None = None) -> str:
    from dygiepp_spark.operators.multimodal import AUDIO_CHUNK_SAMPLES

    w = AUDIO_CHUNK_SAMPLES if chunk_samples is None else chunk_samples
    return f"""
WITH ac AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text, strlen(text) AS n
    FROM documents
),
cx AS (
    SELECT doc_id, text, n,
           unnest(range(0, CAST(greatest(ceil(n / {w}.0), 1) AS INT))) AS chunk_ix
    FROM ac
)
SELECT doc_id,
       CAST(chunk_ix AS INT) AS chunk_ix,
       CAST(least({w}, n - chunk_ix * {w}) AS INT) AS n_samples,
       CAST(coalesce(list_sum(list_transform(
            range(chunk_ix * {w}, chunk_ix * {w} + least({w}, n - chunk_ix * {w})),
            i -> abs(ascii(substr(text, CAST(i + 1 AS INT), 1)) - 128))), 0) AS BIGINT)
           AS abs_energy
FROM cx"""


# --------------------------------------------------------------------------
# global vocabulary top-k (twin of the vocab_topk query: token counts +
# pruning.global_topk_with_ties rank()-semantics cut)
# --------------------------------------------------------------------------

def vocab_topk_oracle(k: int = 100) -> str:
    return f"""
WITH tok AS (
    SELECT unnest({_DTOKS}) AS token FROM documents
),
tc AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
thr AS (SELECT min(n) AS t FROM (SELECT n FROM tc ORDER BY n DESC LIMIT {k}))
SELECT token, n FROM tc WHERE n >= (SELECT t FROM thr)"""


def tfidf_topk_oracle(k: int = 5, idf_scale: int = 1_000_000) -> str:
    """Twin of functions.text.tfidf_topk: integer idf = (N * scale) // df
    (BIGINT floor division on both engines — no float log), BIGINT score,
    row_number cut with the same (score desc, term asc) total order."""
    return f"""
WITH tok AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           unnest({_DTOKS}) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_term FROM tok GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
idf AS (
    SELECT term,
           CAST(((SELECT n_docs FROM n) * {idf_scale}) // df_term AS BIGINT)
               AS idf_q
    FROM dfreq
),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           CAST(tf.tf * idf.idf_q AS BIGINT) AS score
    FROM tf JOIN idf USING (term)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
    FROM scored
)
SELECT doc_id, term, tf, score FROM ranked WHERE rn <= {k}"""


def vocab_build_oracle(
    min_freq: int = 2,
    max_size: int = 200,
    specials: tuple = ("<pad>", "<unk>"),
) -> str:
    """Twin of functions.text.vocab_build (reference vocab.py:31-88):
    specials first with NULL counts, then freq >= min_freq tokens in
    (n DESC, token ASC) order, cut at max_size non-special entries."""
    sp_list = ", ".join(f"'{s}'" for s in specials)
    sp_rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS token_id, '{s}' AS token, "
        f"CAST(NULL AS BIGINT) AS n, true AS is_special"
        for i, s in enumerate(specials)
    )
    n_sp = len(specials)
    return f"""
WITH tok AS (
    SELECT unnest({_DTOKS}) AS token FROM documents
),
tc AS (
    SELECT token, count(*) AS n FROM tok
    WHERE token NOT IN ({sp_list})
    GROUP BY token HAVING count(*) >= {min_freq}
),
ranked AS (
    SELECT token, n,
           row_number() OVER (ORDER BY n DESC, token ASC) AS rn
    FROM tc
)
{sp_rows}
UNION ALL
SELECT CAST(rn - 1 + {n_sp} AS INT) AS token_id, token, n,
       false AS is_special
FROM ranked WHERE rn <= {max_size}"""


# --------------------------------------------------------------------------
# substring-window dedup (twin of dedup.substring_dup_spans)
# --------------------------------------------------------------------------

def substring_dup_oracle(window: int = 16) -> str:
    """Rolling W-token window hashes; first occurrence = lexicographic min
    (doc, pos), transported through a doc*10^6+pos integer encoding (pos
    is bounded by doc token count << 10^6)."""
    return f"""WITH t AS (
    SELECT CAST(doc_id AS BIGINT) AS id,
           list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
    FROM documents
),
t2 AS (SELECT id, toks FROM t WHERE len(toks) >= {window}),
w AS (
    SELECT id, i AS pos,
           md5(array_to_string(toks[i:i+{window - 1}], ' ')) AS win_hash
    FROM t2, UNNEST(generate_series(1, len(toks) - {window} + 1)) AS g(i)
),
agg AS (
    SELECT win_hash,
           count(DISTINCT id) AS n_docs,
           count(*) AS n_occurrences,
           min(id * 1000000 + pos) AS enc
    FROM w GROUP BY win_hash HAVING count(*) > 1
)
SELECT win_hash, n_docs, n_occurrences,
       CAST(enc // 1000000 AS BIGINT) AS first_doc,
       CAST(enc % 1000000 AS INT) AS first_pos
FROM agg"""


# --------------------------------------------------------------------------
# as-of join: turns vs most recent event (twin of temporal.asof_join)
# --------------------------------------------------------------------------

#: epoch seconds of 2024-01-01 00:00:00 UTC — the synthetic turn clock
#: anchor; a literal in BOTH engines so no timezone machinery is involved
EPOCH_2024 = 1_704_067_200
ASOF_KEY_MOD = 15


def asof_events_oracle() -> str:
    """Most recent event (ts <= turn ts, same user key) per turn; ties on
    ts break to the greatest event_id — exactly the payload-struct max in
    temporal.asof_join. Event timestamps to integer seconds via
    microsecond floor-div (DuckDB CAST(double) rounds, epoch_us // 1e6
    floors like Spark's timestamp->long cast)."""
    from dygiepp_spark.tables import TURNS_SQL

    return f"""WITH {TURNS_SQL.strip()},
l AS (
    SELECT conv_id, turn_idx,
           CAST(conv_id AS BIGINT) % {ASOF_KEY_MOD} AS ukey,
           {EPOCH_2024} + CAST(conv_id AS BIGINT) * 3600 + turn_idx * 30
               AS ts_sec
    FROM turns
),
r AS (
    SELECT user_id % {ASOF_KEY_MOD} AS ukey,
           epoch_us(ts) // 1000000 AS ets,
           event_id, event_type, value
    FROM events
),
m AS (
    SELECT l.conv_id, l.turn_idx, r.event_id, r.event_type, r.value,
           row_number() OVER (
               PARTITION BY l.conv_id, l.turn_idx
               ORDER BY r.ets DESC NULLS LAST, r.event_id DESC NULLS LAST
           ) AS rn
    FROM l LEFT JOIN r ON l.ukey = r.ukey AND r.ets <= l.ts_sec
)
SELECT conv_id, turn_idx, event_id, event_type, value FROM m WHERE rn = 1"""


def length_quantiles_oracle(qs=(0.0, 0.25, 0.5, 0.75, 1.0)) -> str:
    """Twin of text.length_quantiles (lower-rank convention)."""
    qvals = ", ".join(f"({q})" for q in qs)
    return f"""WITH lens AS (
    SELECT CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> t <> '')) AS INT) AS n_tok
    FROM documents
),
counts AS (SELECT n_tok, count(*) AS cnt FROM lens GROUP BY n_tok),
cum AS (
    SELECT n_tok,
           sum(cnt) OVER (ORDER BY n_tok ROWS UNBOUNDED PRECEDING) AS cum
    FROM counts
),
total AS (SELECT sum(cnt) AS _n FROM counts),
qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {qvals}) AS t(q))
SELECT q, min(n_tok) AS n_tok
FROM cum, total, qv
WHERE cum >= floor(q * (_n - 1)) + 1
GROUP BY q"""


def domain_stats_oracle() -> str:
    """Twin of web.domain_stats over the synthetic-URL-augmented corpus."""
    from dygiepp_spark.functions.web import DEFAULT_BLOCKLIST, HOST_RE, URL_RE

    blocked = ", ".join(repr(d) for d in DEFAULT_BLOCKLIST)
    return f"""
WITH aug AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           text || ' see https://host'
                || CAST(CAST(doc_id AS BIGINT) % 1000 AS VARCHAR)
                || '.example' || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
                || '.com/p/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                || ' and http://www.site'
                || CAST((CAST(doc_id AS BIGINT) * 7) % 500 AS VARCHAR)
                || '.org/a' || CAST(CAST(doc_id AS BIGINT) % 13 AS VARCHAR)
               AS text
    FROM documents
),
toks AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> t <> '')) AS INT) AS n_tok,
           text
    FROM aug
),
urls AS (
    SELECT doc_id, n_tok,
           unnest(regexp_extract_all(text, '{URL_RE}')) AS url
    FROM toks
),
rd AS (
    SELECT doc_id, n_tok,
           CASE WHEN len(labels) >= 2
                THEN labels[-2] || '.' || labels[-1]
                ELSE labels[-1] END AS domain
    FROM (
        SELECT doc_id, n_tok,
               string_split(regexp_extract(url, '{HOST_RE}', 1), '.') AS labels
        FROM urls
    )
),
per_doc AS (
    SELECT domain, doc_id,
           count(*) AS n_mentions,
           max(n_tok) AS n_tok,
           max(domain IN ({blocked})) AS is_blocked
    FROM rd GROUP BY domain, doc_id
)
SELECT domain,
       count(*) AS n_docs,
       CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
       CAST(sum(n_tok) AS BIGINT) AS total_doc_tokens,
       max(is_blocked) AS is_blocked
FROM per_doc GROUP BY domain"""


def containment_oracle(thresh: float = 0.4, max_bucket: int = 1000) -> str:
    """Twin of dedup.containment_pairs (asymmetric containment over the
    same LSH candidate chain as near_dups_minhash)."""
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT id, {b} AS band, '{b}:' || CAST(mh_{b * ROWS_PER_BAND} AS VARCHAR)"
        f" || ':' || CAST(mh_{b * ROWS_PER_BAND + 1} AS VARCHAR) AS bucket FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""{_DEDUP_BASE},
hashed AS (SELECT id, {hash60_sql('shingle')} AS h0,
                  {hash60_sql("'b:' || shingle")} AS h1 FROM shingled),
sigs AS (
    SELECT id,
           {_minhash_aggs()}
    FROM hashed GROUP BY id
),
buckets AS (
    {bands}
),
bcounts AS (SELECT band, bucket, count(*) AS n FROM buckets GROUP BY 1, 2),
ok AS (
    SELECT b.* FROM buckets b JOIN bcounts c USING (band, bucket)
    WHERE c.n <= {max_bucket}
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.id < b.id
),
sets AS (
    SELECT id, list_sort(list_distinct(list(shingle))) AS sh,
           count(*) AS n_sh
    FROM shingled GROUP BY id
)
SELECT id_a, id_b, cont_a_in_b, cont_b_in_a, jaccard FROM (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(sa.n_sh AS DOUBLE) AS cont_a_in_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(sb.n_sh AS DOUBLE) AS cont_b_in_a,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh))
                    AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.id = c.id_a
    JOIN sets sb ON sb.id = c.id_b
)
WHERE cont_a_in_b >= {thresh} OR cont_b_in_a >= {thresh}"""


def lm_score_oracle() -> str:
    """Twin of functions.text.lm_score: integer floor-log2 surprisal
    (length(bin(T div freq)) - 1 — valid because floor(log2(x)) ==
    floor(log2(floor(x))) for x >= 1), BIGINT bits_per_kt, tertile cuts
    at the exact-integer ranks (N-1)//3 + 1 and 2*(N-1)//3 + 1 over the
    distinct-score domain. DuckDB SUM widens to HUGEINT — cast back."""
    return f"""
WITH tok AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_DTOKS}) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY 1, 2
),
freq AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
tt AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM freq),
bits AS (
    SELECT term,
           CAST(length(bin((SELECT t FROM tt) // freq)) - 1 AS BIGINT)
               AS bits
    FROM freq
),
scored AS (
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tok,
           CAST(sum(tf * bits) AS BIGINT) AS lm_bits
    FROM tf JOIN bits USING (term) GROUP BY 1
),
s2 AS (
    SELECT *, CAST(lm_bits * 1000 // n_tok AS BIGINT) AS bits_per_kt
    FROM scored
),
counts AS (SELECT bits_per_kt, count(*) AS cnt FROM s2 GROUP BY 1),
cum AS (
    SELECT bits_per_kt, sum(cnt) OVER (ORDER BY bits_per_kt) AS cum
    FROM counts
),
n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
thr AS (
    SELECT
        min(CASE WHEN cum >= ((SELECT n FROM n) - 1) // 3 + 1
                 THEN bits_per_kt END) AS t1,
        min(CASE WHEN cum >= 2 * ((SELECT n FROM n) - 1) // 3 + 1
                 THEN bits_per_kt END) AS t2
    FROM cum
)
SELECT doc_id, n_tok, lm_bits, bits_per_kt,
       CASE WHEN bits_per_kt <= (SELECT t1 FROM thr) THEN 'head'
            WHEN bits_per_kt <= (SELECT t2 FROM thr) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s2"""


def bpe_pairs_oracle(k: int = 50) -> str:
    """Twin of functions.text.bpe_pair_counts: word-type frequencies,
    adjacent 2-char substrings weighted by word freq, (n DESC, pair ASC)
    row_number cut."""
    return f"""
WITH wt AS (SELECT unnest({_DTOKS}) AS w FROM documents),
wf AS (
    SELECT w, CAST(count(*) AS BIGINT) AS f
    FROM wt GROUP BY 1 HAVING length(w) >= 2
),
pairs AS (
    SELECT substring(w, CAST(i AS INT), 2) AS pair, f
    FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i)
),
pc AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM pairs GROUP BY 1),
ranked AS (
    SELECT pair, n,
           row_number() OVER (ORDER BY n DESC, pair ASC) AS rn
    FROM pc
)
SELECT pair, n, CAST(rn - 1 AS INT) AS rank FROM ranked WHERE rn <= {k}"""


def source_mix_oracle() -> str:
    """Twin of functions.text.source_mix: per-source token totals,
    floor(sqrt) alpha=1/2 smoothing weight, ppm shares via BIGINT floor
    division."""
    return f"""
WITH per AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_DTOKS})) AS BIGINT) AS n_tok
    FROM documents GROUP BY 1
),
pw AS (
    SELECT *, CAST(floor(sqrt(n_tok)) AS BIGINT) AS weight FROM per
),
tot AS (
    SELECT CAST(sum(n_tok) AS BIGINT) AS t,
           CAST(sum(weight) AS BIGINT) AS w
    FROM pw
)
SELECT source, n_docs, n_tok,
       CAST(n_tok * 1000000 // (SELECT t FROM tot) AS BIGINT)
           AS natural_ppm,
       weight,
       CAST(weight * 1000000 // (SELECT w FROM tot) AS BIGINT) AS mix_ppm
FROM pw"""


def intra_dedup_oracle(block: int = 8) -> str:
    """Twin of dedup.intra_doc_dedup: consecutive block-token windows,
    keep-first via (doc_id, blk)-partitioned row_number, ordered
    string_agg reassembly."""
    return f"""
WITH t AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, {_DTOKS} AS arr
    FROM documents WHERE len({_DTOKS}) >= 1
),
blocks AS (
    SELECT doc_id, CAST(i AS INT) AS pos,
           array_to_string(arr[(i*{block}+1):(i*{block}+{block})], ' ') AS blk
    FROM t, unnest(range(0, CAST(ceil(len(arr) / {block}.0) AS INT))) AS u(i)
),
marked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id, blk ORDER BY pos) AS rn
    FROM blocks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY pos),
                '') AS text_dedup
FROM marked GROUP BY doc_id"""


def pack_sequences_oracle(budget: int = 2048, n_buckets: int = 1024) -> str:
    """Twin of functions.text.pack_sequences: order-preserving bucketing
    from one max() fold, bucket-partitioned local cumsum, running prefix
    over the bucket dim, BIGINT pack arithmetic."""
    return f"""
WITH lens AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len({_DTOKS}) AS BIGINT) AS n_tok
    FROM documents
),
mx AS (SELECT max(doc_id) AS mx FROM lens),
b AS (
    SELECT doc_id, n_tok,
           doc_id // (((SELECT mx FROM mx) + {n_buckets}) // {n_buckets})
               AS bucket
    FROM lens
),
local AS (
    SELECT *, CAST(sum(n_tok) OVER (
        PARTITION BY bucket ORDER BY doc_id) AS BIGINT) AS local_cum
    FROM b
),
totals AS (SELECT bucket, CAST(sum(n_tok) AS BIGINT) AS btot FROM b GROUP BY 1),
prefix AS (
    SELECT bucket,
           CAST(sum(btot) OVER (ORDER BY bucket) - btot AS BIGINT) AS bprefix
    FROM totals
),
j AS (
    SELECT l.doc_id, l.n_tok,
           CAST(bprefix + local_cum - l.n_tok AS BIGINT) AS g_offset
    FROM local l JOIN prefix USING (bucket)
)
SELECT doc_id, n_tok, g_offset,
       CAST(g_offset // {budget} AS BIGINT) AS pack_id,
       CAST(g_offset % {budget} AS BIGINT) AS pack_offset
FROM j"""


def dsir_weights_oracle(n_buckets: int = 4096) -> str:
    """Twin of functions.text.dsir_weights: hash60-bucketed token
    features, add-1 smoothing over the observed-bucket domain, integer
    floor-log2 surprisal difference (raw - target)."""
    return f"""
WITH raw_tok AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang = 'en' AS is_tgt,
           unnest({_DTOKS}) AS term
    FROM documents
),
tok AS (
    SELECT doc_id, is_tgt,
           (('0x' || substr(md5(term), 1, 15))::BIGINT) % {n_buckets}
               AS bucket
    FROM raw_tok
),
tf AS (
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY 1, 2
),
pb AS (
    SELECT bucket,
           CAST(count(*) + 1 AS BIGINT) AS c_raw,
           CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS c_tgt
    FROM tok GROUP BY 1
),
tots AS (
    SELECT CAST(sum(c_raw) AS BIGINT) AS tr,
           CAST(sum(c_tgt) AS BIGINT) AS tt
    FROM pb
),
bits AS (
    SELECT bucket,
           CAST(length(bin((SELECT tr FROM tots) // c_raw)) - 1 AS BIGINT)
               AS bits_raw,
           CAST(length(bin((SELECT tt FROM tots) // c_tgt)) - 1 AS BIGINT)
               AS bits_tgt
    FROM pb
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tok,
       CAST(sum(tf * (bits_raw - bits_tgt)) AS BIGINT) AS dsir_bits
FROM tf JOIN bits USING (bucket) GROUP BY 1"""


def pmi_pairs_oracle(k: int = 50, min_count: int = 5,
                     scale: int = 1_000_000) -> str:
    """Twin of functions.text.pmi_pairs: adjacent-bigram and unigram
    counts, integer ratio (c_ab * scale) // (c_a * c_b), k-th-threshold
    cut with (pmi_q DESC, a ASC, b ASC) total order."""
    return f"""
WITH t AS (SELECT {_DTOKS} AS arr FROM documents WHERE len({_DTOKS}) >= 2),
bg AS (
    SELECT arr[CAST(i AS INT)] AS a, arr[CAST(i AS INT) + 1] AS b
    FROM t, unnest(generate_series(1, len(arr) - 1)) AS u(i)
),
bigrams AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
    FROM bg GROUP BY 1, 2 HAVING count(*) >= {min_count}
),
uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest({_DTOKS}) AS w FROM documents
    ) GROUP BY 1
),
scored AS (
    SELECT g.a, g.b, g.c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST(g.c_ab * {scale} // (ua.c * ub.c) AS BIGINT) AS pmi_q
    FROM bigrams g
    JOIN uni ua ON g.a = ua.w
    JOIN uni ub ON g.b = ub.w
),
ranked AS (
    SELECT *, row_number() OVER (
        ORDER BY pmi_q DESC, a ASC, b ASC) AS rn
    FROM scored
)
SELECT a, b, c_ab, c_a, c_b, pmi_q FROM ranked WHERE rn <= {k}"""


def shard_manifest_oracle(n_shards: int = 16) -> str:
    """Twin of functions.text.shard_manifest: hash60(doc_id) % n_shards
    placement, per-shard doc/char/token totals."""
    from dygiepp_spark.functions.hashing import hash60_sql

    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT {h} % {n_shards} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
            AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1"""


def source_overlap_oracle() -> str:
    """Twin of functions.text.source_overlap: fp_0 from the fingerprint
    chain, deduped (source, fp) pair join, containment ratio."""
    return f"""
WITH norm AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
    FROM documents
),
sh AS (
    SELECT doc_id, source,
           unnest(list_transform(range(1, greatest(length(nt) - 4, 1) + 1),
                                 i -> substr(nt, CAST(i AS INT), 5))) AS shingle
    FROM norm
),
hashed AS (SELECT doc_id, source, {hash60_sql('shingle')} AS h FROM sh),
fps AS (
    SELECT doc_id, source, min({hash_family_from_sql('h', 0)}) AS fp_0
    FROM hashed GROUP BY doc_id, source
),
sf AS (SELECT DISTINCT source, fp_0 FROM fps),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sf GROUP BY 1),
shared AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sf a JOIN sf b ON a.fp_0 = b.fp_0 AND a.source < b.source
    GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.n_shared,
       pa.n AS n_a, pb.n AS n_b,
       CAST(s.n_shared AS DOUBLE) / CAST(least(pa.n, pb.n) AS DOUBLE)
           AS containment
FROM shared s
JOIN per pa ON s.source_a = pa.source
JOIN per pb ON s.source_b = pb.source"""


def length_curriculum_oracle() -> str:
    """Twin of text.length_curriculum: exact tertiles from the
    integer-domain quantile chain, boundary docs to the lower stage."""
    q1, q2 = 1 / 3, 2 / 3
    return f"""WITH lens AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> t <> '')) AS INT) AS n_tok
    FROM documents
),
counts AS (SELECT n_tok, count(*) AS cnt FROM lens GROUP BY n_tok),
cum AS (
    SELECT n_tok,
           sum(cnt) OVER (ORDER BY n_tok ROWS UNBOUNDED PRECEDING) AS cum
    FROM counts
),
total AS (SELECT sum(cnt) AS _n FROM counts),
qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES ({q1!r}), ({q2!r})) AS t(q)),
quant AS (
    SELECT q, min(n_tok) AS n_tok
    FROM cum, total, qv
    WHERE cum >= floor(q * (_n - 1)) + 1
    GROUP BY q
),
thr AS (
    SELECT min(CASE WHEN q < 0.5 THEN n_tok END) AS t1,
           min(CASE WHEN q > 0.5 THEN n_tok END) AS t2
    FROM quant
)
SELECT l.doc_id, l.n_tok,
       CAST(CASE WHEN l.n_tok <= thr.t1 THEN 0
                 WHEN l.n_tok <= thr.t2 THEN 1
                 ELSE 2 END AS INT) AS stage
FROM lens l, thr"""


def bloom_decontam_oracle(
    n: int = 3, mod: int = 97, m: int = 4096, k: int = 3
) -> str:
    """Twin of decontam.bloom_decontam: same gram chain as
    decontam_oracle, k-position bloom bits, all-positions-set probe."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n)).replace(
        "toks[i + 0]", "toks[i]"
    )
    rng = f"range(1, len(toks) - {n - 2})"
    grams = f"unnest(list_distinct(list_transform({rng}, i -> {gram})))"
    fam = ", ".join(
        f"({hash_family_from_sql('_h', i)}) % {m}" for i in range(k)
    )
    return f"""
WITH corpus AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
    WHERE CAST(doc_id AS BIGINT) % {mod} <> 0
),
bench AS (
    SELECT text FROM documents WHERE CAST(doc_id AS BIGINT) % {mod} = 0
),
ct AS (SELECT doc_id, {_DTOKS} AS toks FROM corpus),
cg AS (
    SELECT doc_id, {grams} AS gram FROM ct WHERE len(toks) >= {n}
),
bt AS (SELECT {_DTOKS} AS toks FROM bench),
bg AS (
    SELECT DISTINCT {grams} AS gram FROM bt WHERE len(toks) >= {n}
),
bh AS (SELECT {hash60_sql('gram')} AS _h FROM bg),
bits AS (
    SELECT DISTINCT pos FROM (SELECT unnest([{fam}]) AS pos FROM bh)
),
ch AS (SELECT doc_id, gram, {hash60_sql('gram')} AS _h FROM cg),
probe AS (
    SELECT DISTINCT doc_id, gram, pos FROM (
        SELECT doc_id, gram, unnest([{fam}]) AS pos FROM ch
    )
),
need AS (
    SELECT doc_id, gram, count(*) AS _need FROM probe GROUP BY 1, 2
),
have AS (
    SELECT p.doc_id, p.gram, count(*) AS _have
    FROM probe p JOIN bits b ON p.pos = b.pos
    GROUP BY 1, 2
),
maybe AS (
    SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_maybe
    FROM need n JOIN have h ON n.doc_id = h.doc_id AND n.gram = h.gram
    WHERE h._have = n._need
    GROUP BY 1
),
perdoc AS (
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
    FROM cg GROUP BY 1
)
SELECT c.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(mb.n_maybe, 0) AS n_maybe_grams,
       coalesce(mb.n_maybe, 0) > 0 AS flagged
FROM corpus c
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN maybe mb USING (doc_id)"""


def ngram_coverage_oracle(k: int = 100) -> str:
    """Twin of text.ngram_coverage: k-th-largest-count threshold with
    tie inclusion, 1-row coverage fold."""
    return f"""
WITH uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest({_DTOKS}) AS w FROM documents
    ) GROUP BY 1
),
thr AS (
    SELECT c AS _thr FROM uni ORDER BY c DESC OFFSET {k - 1} LIMIT 1
),
thr2 AS (
    -- fewer than k types: threshold falls back to the minimum count
    SELECT COALESCE((SELECT _thr FROM thr), (SELECT min(c) FROM uni)) AS _thr
)
SELECT CAST(sum(CASE WHEN c >= _thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_top_types,
       CAST(COALESCE(sum(CASE WHEN c >= _thr THEN c END), 0) AS BIGINT)
           AS covered,
       CAST(sum(c) AS BIGINT) AS total,
       CAST(COALESCE(sum(CASE WHEN c >= _thr THEN c END), 0) AS DOUBLE)
           / CAST(greatest(sum(c), 1) AS DOUBLE) AS coverage
FROM uni, thr2"""


def dedup_rate_by_source_oracle() -> str:
    """Twin of compaction.dedup_rate_by_source: the full dedup_groups
    recursive chain wrapped as a CTE, chunk -> doc -> source rollup."""
    base = dedup_groups_oracle()
    return f"""WITH comp AS (
{base}
),
src AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents),
j AS (SELECT id // 2 AS doc_id, is_keeper FROM comp),
per AS (
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN NOT j.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM j JOIN src s ON j.doc_id = s.doc_id
    GROUP BY 1
),
allsrc AS (SELECT DISTINCT source FROM documents)
SELECT a.source,
       COALESCE(p.n_chunks, 0) AS n_chunks,
       COALESCE(p.n_dropped, 0) AS n_dropped,
       CAST(COALESCE(p.n_dropped, 0) AS DOUBLE)
           / CAST(greatest(COALESCE(p.n_chunks, 0), 1) AS DOUBLE)
           AS drop_rate
FROM allsrc a LEFT JOIN per p ON a.source = p.source"""


def minhash_error_hist_oracle(
    thresh: float = 0.25, max_bucket: int = 1000
) -> str:
    """Twin of dedup.minhash_error_hist: the SHARED near-dup CTE chain
    (_minhash_pairs_ctes — same pair set as production by construction)
    plus a 32-component signature-agreement estimate per verified pair."""
    match_sum = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""{_minhash_pairs_ctes(thresh, max_bucket)},
est AS (
    SELECT v.id_a, v.id_b, v.jaccard,
           CAST({match_sum} AS DOUBLE) / {float(N_HASHES)} AS est
    FROM ver v
    JOIN sigs sa ON sa.id = v.id_a
    JOIN sigs sb ON sb.id = v.id_b
)
SELECT least(CAST(floor(abs(est - jaccard) * 10) AS BIGINT),
             CAST(9 AS BIGINT)) AS err_bin,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM est GROUP BY 1"""


def pack_efficiency_oracle(budget: int = 2048, n_buckets: int = 1024) -> str:
    """Twin of functions.text.pack_efficiency: the pack_sequences chain
    wrapped as a CTE, per-pack rollup, 1-row utilization fold."""
    base = pack_sequences_oracle(budget=budget, n_buckets=n_buckets)
    return f"""WITH packed AS (
{base}
),
per AS (
    SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS toks
    FROM packed GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_docs) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS mean_docs_per_pack,
       CAST(sum(toks) AS DOUBLE)
           / CAST(count(*) * {budget} AS DOUBLE) AS mean_fill
FROM per"""


def source_language_mix_oracle() -> str:
    """Twin of text.source_language_mix over the langid chain."""
    langs = list(LANG_STOPWORDS)
    ltoks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    hits = ",\n       ".join(
        f"len(list_filter(ltoks, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS h_{lg}"
        for lg, ws in LANG_STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN h_{lg} = m THEN '{lg}'" for lg in langs)
    return f"""
WITH lt AS (SELECT source, {ltoks} AS ltoks FROM documents),
hits AS (
    SELECT source,
       {hits}
    FROM lt
),
withmax AS (SELECT *, {best} AS m FROM hits),
pred AS (
    SELECT source,
           CASE WHEN m > 0 THEN (CASE {case} END) ELSE 'und' END AS pred_lang
    FROM withmax
),
per AS (
    SELECT source, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS _t FROM per GROUP BY 1)
SELECT p.source, p.pred_lang, p.n_docs,
       CAST(p.n_docs AS DOUBLE) / CAST(t._t AS DOUBLE) AS share
FROM per p JOIN tot t ON p.source = t.source"""


def quality_decile_yield_oracle() -> str:
    """Twin of text.quality_decile_yield: the quality and filter chains
    nested as CTEs, decile join, keep-rate fold."""
    return f"""WITH q AS (
{quality_oracle()}
),
f AS (
{quality_filter_oracle()}
)
SELECT least(CAST(floor(q.quality * 10) AS BIGINT), CAST(9 AS BIGINT))
           AS q_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS keep_rate
FROM q JOIN f ON q.doc_id = f.doc_id
GROUP BY 1"""


def simhash_hamming_hist_oracle(bits: int = SIMHASH_BITS) -> str:
    """Twin of dedup.simhash_hamming_hist: the simhash pair chain with
    the cut lifted to the full bit width, rolled to a histogram."""
    base = near_dups_simhash_oracle(max_hamming=bits)
    return f"""WITH p AS (
{base}
)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1"""


def decontam_rate_by_source_oracle(n: int = 3, mod: int = 97) -> str:
    """Twin of decontam.decontam_rate_by_source: the decontam chain
    nested as a CTE, source rollup."""
    base = decontam_oracle(n=n, mod=mod)
    return f"""WITH rep AS (
{base}
),
src AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents
    WHERE CAST(doc_id AS BIGINT) % {mod} <> 0
)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r.contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(sum(CASE WHEN r.contaminated THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS contam_rate
FROM rep r JOIN src s ON r.doc_id = s.doc_id
GROUP BY 1"""


def coverage_curve_oracle(ks: tuple[int, ...] = (1, 5, 10, 20)) -> str:
    """Twin of text.coverage_curve: the per-k ngram_coverage oracle
    nested per union arm (the oracle re-derives uni per arm — the
    Spark side shares one pinned scan; outputs identical)."""
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS k, * FROM (\n{ngram_coverage_oracle(k)}\n)"
        for k in ks
    )
    return arms


def filter_rate_by_source_oracle() -> str:
    """Twin of text.filter_rate_by_source: the filter chain nested as a
    CTE, source rollup."""
    return f"""WITH f AS (
{quality_filter_oracle()}
),
src AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS keep_rate
FROM f JOIN src s ON f.doc_id = s.doc_id
GROUP BY 1"""
