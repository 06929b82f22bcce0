"""DuckDB oracle twins for the document-layer queries: exact, substring
and intra-document dedup, the composite quality filter, the LM score,
length quantiles, the vocabulary build, token counts, language ID,
fingerprints, stratified sampling and sequence packing, plus PII
scrubbing, URL hygiene, decontamination, the as-of join and the
multimodal operators.

Portability contract (see dygiepp_spark.functions.hashing):

* all hashing is md5-based (``hash60``: first 15 hex chars as BIGINT);
* all ranking scores are exact integer arithmetic or single IEEE
  operations over exact integers;
* ratios are one double division of two exact integers;
* every window carries a total-order tiebreak.
"""

from __future__ import annotations

from dygiepp_spark.functions.hashing import hash60_sql, hash_family_from_sql
from dygiepp_spark.functions.text import LANG_STOPWORDS
from dygiepp_spark.operators.multimodal import FRAME_STRIDE

# --------------------------------------------------------------------------
# exact dedup (twin of operators.dedup.exact_dedup_groups)
# --------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def dedup_exact_oracle() -> str:
    return f"""
SELECT md5({_NORM}) AS text_hash,
       min(CAST(doc_id AS BIGINT)) AS canonical_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1"""


# --------------------------------------------------------------------------
# text analysis over whitespace tokens (``_DTOKS`` is the twin of
# functions.text.tokens_col)
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
# repetition metrics (twin of functions.text.repetition_features)
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


# --------------------------------------------------------------------------
# deterministic stratified sampling (twin of functions.text.stratified_sample)
# --------------------------------------------------------------------------

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
# vocabulary build (twin of functions.text.vocab_build)
# --------------------------------------------------------------------------

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


# --------------------------------------------------------------------------
# intra-document dedup and sequence packing
# --------------------------------------------------------------------------

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
