"""DuckDB oracle SQL twins for the driver's correctness gate.

Every SQL string here reproduces the matching DataFrame operator's output
bit-for-bit on the pre-registered views (region nation customer supplier
part orders lineitem events documents). Portability rules used
throughout:

* floats: only IEEE-identical expressions (double division of identical
  operands); never sum doubles — sums use integers/decimals.
* hashes: md5 hex strings (identical in Spark and DuckDB);
  hex->int via Spark ``conv(x,16,10)`` == DuckDB ``('0x'||x)::BIGINT``.
* ordering: every windowed/top-k query carries a total-order tiebreak.
"""

from __future__ import annotations

from dygiepp_spark.tables import (
    ENTITY_VOCAB,
    RELATION_LABELS,
    RELATION_MAX_DIST,
    EVENT_ARG_MAX_DIST,
    TOKENS_SQL,
    TRIGGER_VOCAB,
    TURNS_SQL,
)


def _inlist(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


_ENTS = _inlist(ENTITY_VOCAB)
_TRIGS = _inlist(TRIGGER_VOCAB)
_LABELS = "[" + _inlist(RELATION_LABELS) + "]"

MENTIONS_SQL = f"""
mentions AS (
    SELECT conv_id, turn_idx, tok_ix AS start, tok_ix AS "end", token AS surface
    FROM tokens
    WHERE token IN ({_ENTS})
)
"""

#: per-turn token counts + the reference's positional beams (M4 with
#: uniform scores -> first-k-by-position; relations ceil 0.5/word,
#: event args floor 0.8/word cap 30, triggers floor 0.3/word cap 15)
BEAMS_SQL = f"""
lens AS (
    SELECT conv_id, turn_idx, count(*) AS n_tokens
    FROM tokens GROUP BY conv_id, turn_idx
),
mentions_rel AS (
    SELECT * FROM (
        SELECT m.*, l.n_tokens,
               row_number() OVER (PARTITION BY m.conv_id, m.turn_idx
                                  ORDER BY m.start) AS rn
        FROM mentions m
        JOIN lens l ON m.conv_id = l.conv_id AND m.turn_idx = l.turn_idx
    ) WHERE rn <= greatest(CAST(ceil(0.5 * n_tokens) AS BIGINT), 1)
),
mentions_arg AS (
    SELECT * FROM (
        SELECT m.*, l.n_tokens,
               row_number() OVER (PARTITION BY m.conv_id, m.turn_idx
                                  ORDER BY m.start) AS rn
        FROM mentions m
        JOIN lens l ON m.conv_id = l.conv_id AND m.turn_idx = l.turn_idx
    ) WHERE rn <= least(greatest(CAST(floor(0.8 * n_tokens) AS BIGINT), 1), 30)
),
triggers_beam AS (
    SELECT * FROM (
        SELECT t.conv_id, t.turn_idx, t.tok_ix, t.token, l.n_tokens,
               row_number() OVER (PARTITION BY t.conv_id, t.turn_idx
                                  ORDER BY t.tok_ix) AS rn
        FROM (SELECT * FROM tokens WHERE token IN ({_TRIGS})) t
        JOIN lens l ON t.conv_id = l.conv_id AND t.turn_idx = l.turn_idx
    ) WHERE rn <= least(greatest(CAST(floor(0.3 * n_tokens) AS BIGINT), 1), 15)
)
"""

PAIRS_SQL = f"""
pairs AS (
    SELECT a.conv_id AS conv_id, a.turn_idx AS turn_idx,
           a.start AS s1, a."end" AS e1, b.start AS s2, b."end" AS e2,
           a.surface AS arg0, b.surface AS arg1,
           b.start - a.start AS dist,
           {_LABELS}[((len(a.surface) + 2 * len(b.surface)) % {len(RELATION_LABELS)}) + 1] AS label,
           CAST(1 AS DOUBLE) / (1 + (b.start - a.start)) AS conf
    FROM mentions_rel a
    JOIN mentions_rel b
      ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
     AND b.start > a.start AND b.start - a.start <= {RELATION_MAX_DIST}
)
"""

_PRELUDE = (
    f"WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()} , {MENTIONS_SQL.strip()} , "
    f"{BEAMS_SQL.strip()} , {PAIRS_SQL.strip()}"
)


def turns_oracle() -> str:
    return f"WITH {TURNS_SQL.strip()} SELECT conv_id, turn_idx, role, text, tool FROM turns"


def csv_ingest_oracle() -> str:
    """S6 twin of write_metadata_csv -> ingest_metadata_csv: derived
    directly from the documents view (the CSV round-trip is the Spark
    side's extra work, like the TSV round-trip oracle) — skip rule on the
    every-37th empty abstract, whitespace tokenization, doc_key suffix."""
    return """
SELECT CAST(doc_id AS VARCHAR) || '_abstract' AS doc_key,
       'Abstract' AS section,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
         AS n_tokens,
       array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')
         AS text
FROM documents
WHERE CAST(doc_id AS BIGINT) % 37 <> 0 AND text <> '' AND text IS NOT NULL"""


SCIERC_FIXTURE = "/root/reference/dygie/tests/fixtures/scierc_article.json"


def triples_replay_oracle(
    path: str = SCIERC_FIXTURE, max_span_width: int = 8
) -> str:
    """North-rule replay gate as a hard-signal twin: the reference's
    emitted triple set (predict.py:22-42) derived straight from the SciERC
    fixture JSONL in DuckDB — doc-level relation offsets rebased by the
    shifted-cumsum sentence starts (document.py:113-117), arg surfaces
    sliced from the sentence tokens, spans wider than the kernel's
    enumeration cap dropped (dygie.py:55-56 ``_too_long``). The Spark side
    must reproduce this set through the FULL Arrow kernel decode with
    replayed scores."""
    return f"""
WITH docs AS (
    SELECT CAST(doc_key AS VARCHAR) AS doc_key, sentences, relations
    FROM read_json('{path}', format='newline_delimited',
                   columns={{'doc_key': 'VARCHAR',
                             'sentences': 'VARCHAR[][]',
                             'relations': 'JSON'}})
),
sent AS (
    SELECT doc_key,
           generate_subscripts(sentences, 1) - 1 AS sent_ix,
           unnest(sentences) AS toks
    FROM docs
),
starts AS (
    SELECT doc_key, sent_ix, toks,
           CAST(COALESCE(SUM(len(toks)) OVER (
               PARTITION BY doc_key ORDER BY sent_ix
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS st
    FROM sent
),
rsent AS (
    SELECT doc_key,
           unnest(range(CAST(json_array_length(relations) AS BIGINT)))
             AS sent_ix,
           relations
    FROM docs
),
rlist AS (
    SELECT doc_key, sent_ix,
           json_extract(relations, '$[' || sent_ix || ']') AS rl
    FROM rsent
),
r AS (
    SELECT doc_key, sent_ix, rl,
           unnest(range(CAST(json_array_length(rl) AS BIGINT))) AS j
    FROM rlist
),
rel AS (
    SELECT doc_key, sent_ix,
           CAST(json_extract(rl, '$[' || j || '][0]') AS INT) AS s1,
           CAST(json_extract(rl, '$[' || j || '][1]') AS INT) AS e1,
           CAST(json_extract(rl, '$[' || j || '][2]') AS INT) AS s2,
           CAST(json_extract(rl, '$[' || j || '][3]') AS INT) AS e2,
           json_extract_string(rl, '$[' || j || '][4]') AS label
    FROM r
)
SELECT DISTINCT s.doc_key AS conv_id,
       array_to_string(s.toks, ' ') AS sent_text,
       array_to_string(array_slice(s.toks, rel.s1 - s.st + 1,
                                   rel.e1 - s.st + 1), ' ') AS arg0,
       array_to_string(array_slice(s.toks, rel.s2 - s.st + 1,
                                   rel.e2 - s.st + 1), ' ') AS arg1,
       rel.label AS label
FROM rel
JOIN starts s ON s.doc_key = rel.doc_key AND s.sent_ix = rel.sent_ix
WHERE rel.e1 - rel.s1 + 1 <= {max_span_width}
  AND rel.e2 - rel.s2 + 1 <= {max_span_width}"""


ACE_EVENT_FIXTURE = "/root/reference/dygie/tests/fixtures/ace_event_article.json"


def events_replay_oracle(
    path: str = ACE_EVENT_FIXTURE, max_span_width: int = 8
) -> str:
    """EVENT half of the north-rule replay gate (sibling of
    :func:`triples_replay_oracle`): the reference's (trigger, event_type,
    argument span, role) set derived straight from the ACE fixture JSONL —
    each per-sentence event entry is ``[[trig_doc_ix, type], [a_s, a_e,
    role], ...]`` with DOC-level offsets (doc/data.md:61-78), rebased by
    the shifted-cumsum sentence starts (document.py:113-117); argument
    spans wider than the kernel's enumeration cap are dropped
    (dygie.py:55-56 ``_too_long``). Trigger-only events contribute no rows
    (the Spark side joins argument rows to their trigger), matching the
    pytest replay check (tests/test_kernel.py ACE replay)."""
    return f"""
WITH docs AS (
    SELECT CAST(doc_key AS VARCHAR) AS doc_key, sentences, events
    FROM read_json('{path}', format='newline_delimited',
                   columns={{'doc_key': 'VARCHAR',
                             'sentences': 'VARCHAR[][]',
                             'events': 'JSON'}})
),
sent AS (
    SELECT doc_key,
           generate_subscripts(sentences, 1) - 1 AS sent_ix,
           unnest(sentences) AS toks
    FROM docs
),
starts AS (
    SELECT doc_key, sent_ix,
           CAST(COALESCE(SUM(len(toks)) OVER (
               PARTITION BY doc_key ORDER BY sent_ix
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS st
    FROM sent
),
esent AS (
    SELECT doc_key,
           unnest(range(CAST(json_array_length(events) AS BIGINT)))
             AS sent_ix,
           events
    FROM docs
),
elist AS (
    SELECT doc_key, sent_ix,
           json_extract(events, '$[' || sent_ix || ']') AS el
    FROM esent
),
ev AS (
    SELECT doc_key, sent_ix, el,
           unnest(range(CAST(json_array_length(el) AS BIGINT))) AS j
    FROM elist
),
one AS (
    SELECT doc_key, sent_ix, json_extract(el, '$[' || j || ']') AS e
    FROM ev
),
witharg AS (
    SELECT doc_key, sent_ix, e,
           CAST(json_extract(e, '$[0][0]') AS INT) AS trig_doc,
           json_extract_string(e, '$[0][1]') AS event_type,
           unnest(range(1, CAST(json_array_length(e) AS BIGINT))) AS a
    FROM one
),
arg AS (
    SELECT doc_key, sent_ix, trig_doc, event_type,
           CAST(json_extract(e, '$[' || a || '][0]') AS INT) AS s_doc,
           CAST(json_extract(e, '$[' || a || '][1]') AS INT) AS e_doc,
           json_extract_string(e, '$[' || a || '][2]') AS role
    FROM witharg
)
SELECT DISTINCT a.doc_key AS conv_id,
       CAST(a.sent_ix AS INT) AS turn_idx,
       a.trig_doc - s.st AS trig_ix,
       a.event_type,
       a.s_doc - s.st AS arg_s,
       a.e_doc - s.st AS arg_e,
       a.role
FROM arg a
JOIN starts s ON s.doc_key = a.doc_key AND s.sent_ix = a.sent_ix
WHERE a.e_doc - a.s_doc + 1 <= {max_span_width}"""


def json_ingest_oracle() -> str:
    """S6 twin of write_article_json -> ingest_article_json, derived
    straight from the documents view: the %43 (no_abstract) and %47
    (no_body) rows are skipped, the %41 rows go through the metadata
    fallback (observably upper-cased), doc_key = paper_id:abstract."""
    return """
SELECT CAST(doc_id AS VARCHAR) || ':abstract' AS doc_key,
       'Abstract' AS section,
       CAST(len(list_filter(string_split(src, ' '), x -> x <> '')) AS INT)
         AS n_tokens,
       array_to_string(list_filter(string_split(src, ' '), x -> x <> ''), ' ')
         AS text
FROM (
    SELECT doc_id,
           CASE WHEN CAST(doc_id AS BIGINT) % 41 = 0 THEN upper(text)
                ELSE text END AS src
    FROM documents
    WHERE CAST(doc_id AS BIGINT) % 43 <> 0
      AND CAST(doc_id AS BIGINT) % 47 <> 0
)
WHERE src <> '' AND src IS NOT NULL"""


def doc_assembly_oracle() -> str:
    return f"""WITH {TURNS_SQL.strip()}
SELECT conv_id,
       CAST(count(*) AS INT) AS n_turns,
       string_agg(text, ' ' ORDER BY turn_idx) AS doc_text
FROM turns GROUP BY conv_id"""


def sentence_offsets_oracle() -> str:
    return f"""WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()},
lens AS (
    SELECT conv_id, turn_idx, CAST(count(*) AS INT) AS n_tokens
    FROM tokens GROUP BY conv_id, turn_idx
)
SELECT conv_id, turn_idx, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
            PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
         AS sentence_start
FROM lens"""


def doc_split_oracle(max_tokens: int = 36) -> str:
    """A4 exact-split twin — INDEPENDENT formulation exploiting the
    derived corpus's structure: every turn except a conversation's last
    has exactly TURN_TOKENS tokens, so the reference's greedy grouping
    (group while cumulative length fits) lands a boundary exactly every
    ``max_tokens // TURN_TOKENS`` turns and the trailing short turn can
    never start a group on its own (12*(i%c) + L' <= max for all L' <= 12).
    grp = turn_idx // c therefore EQUALS the sequential greedy on this
    corpus, and the rebase offsets are the group-min window aggregates —
    cross-checking the Spark side's genuinely sequential applyInPandas
    kernel with a closed form, the same independent-derivation pattern as
    the coref segment oracle."""
    from dygiepp_spark.tables import TURN_TOKENS

    c = max_tokens // TURN_TOKENS
    return f"""WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()},
lens AS (
    SELECT conv_id, turn_idx, CAST(count(*) AS INT) AS n_tokens
    FROM tokens GROUP BY conv_id, turn_idx
),
offs AS (
    SELECT l.conv_id, l.turn_idx, l.n_tokens, t.text,
           CAST(COALESCE(SUM(l.n_tokens) OVER (
               PARTITION BY l.conv_id ORDER BY l.turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS sentence_start,
           SUM(l.n_tokens) OVER (PARTITION BY l.conv_id) AS tot,
           l.turn_idx // {c} AS grp
    FROM lens l JOIN turns t
      ON l.conv_id = t.conv_id AND l.turn_idx = t.turn_idx
),
rebased AS (
    SELECT *,
           min(sentence_start) OVER (PARTITION BY conv_id, grp) AS tok_off,
           min(turn_idx) OVER (PARTITION BY conv_id, grp) AS ix_off
    FROM offs
)
SELECT CASE WHEN tot <= {max_tokens} THEN conv_id
            ELSE conv_id || '_SPLIT_' || CAST(grp AS VARCHAR) END AS doc_key,
       conv_id,
       turn_idx AS orig_turn_idx,
       CAST(CASE WHEN tot <= {max_tokens} THEN turn_idx
                 ELSE turn_idx - ix_off END AS INT) AS turn_idx,
       CAST(CASE WHEN tot <= {max_tokens} THEN sentence_start
                 ELSE sentence_start - tok_off END AS INT) AS sentence_start,
       n_tokens, text
FROM rebased"""


def mentions_oracle() -> str:
    return f"""{_PRELUDE}
SELECT conv_id, turn_idx, start, "end", surface FROM mentions"""


def span_enum_oracle() -> str:
    # per-turn enumerated span count with width cap 8; closed form
    # n*W - W*(W-1)/2 for n >= W else n*(n+1)/2 — cross-checks the real
    # double-explode enumeration on the Spark side.
    return f"""WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()},
lens AS (
    SELECT conv_id, turn_idx, count(*) AS n FROM tokens GROUP BY conv_id, turn_idx
)
SELECT conv_id, turn_idx,
       CAST(CASE WHEN n >= 8 THEN n * 8 - 28 ELSE n * (n + 1) / 2 END AS BIGINT)
         AS n_spans
FROM lens"""


def triples_oracle() -> str:
    return f"""{_PRELUDE}
SELECT p.conv_id AS conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label,
       arg_max(p.conf, p.s1 * 1000 + p.s2) AS conf
FROM pairs p JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
GROUP BY p.conv_id, t.text, p.arg0, p.arg1, p.label"""


def triples_set_oracle() -> str:
    """Triple SET without the confidence column (kernel-path parity)."""
    return f"""{_PRELUDE}
SELECT DISTINCT p.conv_id AS conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label
FROM pairs p JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx"""


def windowed_mention_counts_oracle(window_sec: int = 60) -> str:
    """Twin of streaming.windowed_mention_counts after a full drain (the
    sentinel horizon closes every real window, so the streaming result
    equals the batch rollup): per 60s event-time bucket, per entity
    surface, the mention count. time_bucket and Spark's window() both
    align to whole minutes here (base ts is minute-aligned)."""
    return f"""WITH {TURNS_SQL.strip()},
tok AS (
    SELECT TIMESTAMP '2024-01-01 00:00:00' + turn_idx * INTERVAL 1 SECOND AS ts,
           unnest(string_split(text, ' ')) AS token
    FROM turns
)
SELECT time_bucket(INTERVAL {window_sec} SECONDS, ts) AS window_start,
       token AS surface, count(*) AS n
FROM tok
WHERE token IN ({_ENTS})
GROUP BY 1, 2"""


def triples_set_corefprop_oracle() -> str:
    """Kernel path with coref_prop=1 under CorefRuleScorer: the relation
    beam ranks mentions by the PROPAGATED score
    ``0.5·(100-start) + 0.5·(100-antecedent_start)`` (antecedent = nearest
    previous same-surface mention; no antecedent -> score unchanged),
    tie -> lower start. All values are halves of small integers, so the
    float comparison is exact in both engines (see CorefRuleScorer)."""
    from dygiepp_spark.tables import RELATION_LABELS, RELATION_MAX_DIST

    return f"""{_PRELUDE},
ante AS (
    SELECT m.conv_id, m.turn_idx, m.start, max(p.start) AS ante_start
    FROM mentions m JOIN mentions p
      ON p.conv_id = m.conv_id AND p.turn_idx = m.turn_idx
     AND p.surface = m.surface AND p.start < m.start
    GROUP BY m.conv_id, m.turn_idx, m.start
),
scored AS (
    SELECT m.conv_id, m.turn_idx, m.start, m.surface, l.n_tokens,
           CASE WHEN a.ante_start IS NOT NULL
                THEN 0.5 * CAST(100 - m.start AS DOUBLE)
                     + 0.5 * CAST(100 - a.ante_start AS DOUBLE)
                ELSE CAST(100 - m.start AS DOUBLE) END AS prop_score
    FROM mentions m
    JOIN lens l ON m.conv_id = l.conv_id AND m.turn_idx = l.turn_idx
    LEFT JOIN ante a ON a.conv_id = m.conv_id AND a.turn_idx = m.turn_idx
                    AND a.start = m.start
),
mentions_prop AS (
    SELECT * FROM (
        SELECT s.*, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY prop_score DESC, start) AS rnp
        FROM scored s
    ) WHERE rnp <= greatest(CAST(ceil(0.5 * n_tokens) AS BIGINT), 1)
),
pairs_prop AS (
    SELECT a.conv_id AS conv_id, a.turn_idx AS turn_idx,
           a.surface AS arg0, b.surface AS arg1,
           {_LABELS}[((len(a.surface) + 2 * len(b.surface)) % {len(RELATION_LABELS)}) + 1] AS label
    FROM mentions_prop a
    JOIN mentions_prop b
      ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
     AND b.start > a.start AND b.start - a.start <= {RELATION_MAX_DIST}
)
SELECT DISTINCT p.conv_id AS conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label
FROM pairs_prop p JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx"""


def triples_mechanism_oracle() -> str:
    return f"""{_PRELUDE}
SELECT conv_id, sent_text, arg0, arg1, 'MECHANISM' AS label, conf
FROM (
    SELECT p.conv_id AS conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label,
           arg_max(p.conf, p.s1 * 1000 + p.s2) AS conf
    FROM pairs p JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
    GROUP BY p.conv_id, t.text, p.arg0, p.arg1, p.label
)
WHERE label = 'USED-FOR'"""


def events_oracle() -> str:
    return f"""{_PRELUDE}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
       t.tok_ix AS trigger_ix, 'op_' || t.token AS event_type,
       m.start AS arg_start, m."end" AS arg_end,
       CASE WHEN m.start < t.tok_ix THEN 'arg0' ELSE 'arg1' END AS role,
       m.surface AS arg_text
FROM triggers_beam t
JOIN mentions_arg m
  ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
 AND abs(m.start - t.tok_ix) <= {EVENT_ARG_MAX_DIST}"""


def events_binary_oracle() -> str:
    return f"""{_PRELUDE}
, ev AS (
    SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
           t.tok_ix AS trigger_ix, 'op_' || t.token AS event_type,
           m.start AS arg_start, m.surface AS arg_text,
           CASE WHEN m.start < t.tok_ix THEN 'arg0' ELSE 'arg1' END AS role
    FROM triggers_beam t
    JOIN mentions_arg m
      ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
     AND abs(m.start - t.tok_ix) <= {EVENT_ARG_MAX_DIST}
)
SELECT a0.conv_id AS conv_id, a0.turn_idx AS turn_idx, a0.trigger_ix AS trigger_ix,
       a0.event_type AS event_type,
       a0.arg_text AS arg0, a0.arg_start AS a0_start,
       a1.arg_text AS arg1, a1.arg_start AS a1_start
FROM (SELECT * FROM ev WHERE role = 'arg0') a0
JOIN (SELECT * FROM ev WHERE role = 'arg1') a1
  ON a0.conv_id = a1.conv_id AND a0.turn_idx = a1.turn_idx
 AND a0.trigger_ix = a1.trigger_ix"""


# ---------------------------------------------------------------------------
# transcript analytics (twins of operators.transcript)
# ---------------------------------------------------------------------------

_TTOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


def conv_stats_oracle() -> str:
    return f"""WITH {TURNS_SQL.strip()},
per AS (
    SELECT conv_id, role, len({_TTOKS}) AS n_tok FROM turns
),
agg AS (
    SELECT conv_id,
           count(*) AS n_turns,
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_user_turns,
           CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_assistant_turns,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM per GROUP BY conv_id
)
SELECT conv_id, n_turns, n_user_turns, n_assistant_turns, total_tokens,
       CAST(total_tokens AS DOUBLE) / CAST(n_turns AS DOUBLE)
           AS mean_turn_tokens
FROM agg"""


def session_stats_oracle(gap_sec: int = 30) -> str:
    """Twin of sessionize + session_stats over the synthetic gap-ful
    clock ts_sec = turn_idx*2 + (turn_idx // 4)*60 (a 60 s pause before
    every 4th turn, so sessions are 4 turns long under gap_sec=30)."""
    return f"""WITH {TURNS_SQL.strip()},
ts AS (
    SELECT conv_id, turn_idx,
           turn_idx * 2 + (turn_idx // 4) * 60 AS ts_sec
    FROM turns
),
flag AS (
    SELECT conv_id, turn_idx, ts_sec,
           CASE WHEN ts_sec - lag(ts_sec) OVER
                    (PARTITION BY conv_id ORDER BY ts_sec, turn_idx)
                    > {gap_sec}
                THEN 1 ELSE 0 END AS f
    FROM ts
),
sess AS (
    SELECT conv_id, turn_idx, ts_sec,
           CAST(sum(f) OVER (PARTITION BY conv_id ORDER BY ts_sec, turn_idx
                             ROWS UNBOUNDED PRECEDING) AS INT) AS session_ix
    FROM flag
)
SELECT conv_id, session_ix,
       count(*) AS n_turns,
       min(turn_idx) AS first_turn,
       max(turn_idx) AS last_turn,
       CAST(max(ts_sec) - min(ts_sec) AS BIGINT) AS duration_sec
FROM sess GROUP BY conv_id, session_ix"""


def turn_taking_oracle() -> str:
    """Twin of transcript.turn_taking (gaps-and-islands role runs)."""
    return f"""WITH {TURNS_SQL.strip()},
f AS (
    SELECT conv_id, turn_idx, role,
           CASE WHEN lag(role) OVER w IS NULL
                     OR lag(role) OVER w = role
                THEN 0 ELSE 1 END AS sw
    FROM turns
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
r AS (
    SELECT conv_id, turn_idx, role,
           sum(sw) OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS UNBOUNDED PRECEDING) AS run_id
    FROM f
),
pr AS (
    SELECT conv_id, run_id,
           count(*) AS run_len,
           arg_min(role, turn_idx) AS role,
           min(turn_idx) AS ft,
           max(turn_idx) AS lt
    FROM r GROUP BY conv_id, run_id
)
SELECT conv_id,
       CAST(sum(run_len) AS BIGINT) AS n_turns,
       CAST(count(*) - 1 AS BIGINT) AS n_switches,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS max_run_len,
       arg_min(role, ft) AS first_role,
       arg_max(role, lt) AS last_role
FROM pr GROUP BY conv_id"""


def response_latency_oracle() -> str:
    """Twin of transcript.response_latency over the synthetic gap-ful
    clock ts_sec = turn_idx*2 + (turn_idx // 4)*60."""
    return f"""WITH {TURNS_SQL.strip()},
ts AS (
    SELECT conv_id, turn_idx, role,
           turn_idx * 2 + (turn_idx // 4) * 60 AS ts_sec
    FROM turns
),
gaps AS (
    SELECT conv_id, turn_idx, role,
           ts_sec - lag(ts_sec) OVER w AS gap,
           lag(role) OVER w AS prev_role
    FROM ts
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
resp AS (
    SELECT * FROM gaps WHERE role = 'assistant' AND prev_role = 'user'
),
agg AS (
    SELECT conv_id,
           count(*) AS n_responses,
           CAST(sum(gap) AS BIGINT) AS _total,
           CAST(max(gap) AS BIGINT) AS max_latency,
           CAST(min(gap) AS BIGINT) AS min_latency
    FROM resp GROUP BY conv_id
)
SELECT conv_id, n_responses,
       CAST(_total AS DOUBLE) / CAST(n_responses AS DOUBLE) AS mean_latency,
       max_latency, min_latency
FROM agg"""


_TOOLS_CTE = """
tcalls AS (
    SELECT conv_id, turn_idx,
           ['search', 'code', 'browse', 'calc']
               [CAST(pick % 4 + 1 AS INT)] AS tool
    FROM (
        SELECT conv_id, turn_idx, role,
               ('0x' || substr(md5(conv_id || ':' ||
                   CAST(turn_idx AS VARCHAR)), 1, 15))::BIGINT AS pick
        FROM turns
    )
    WHERE role = 'assistant' AND pick % 3 = 0
)
"""


def tool_usage_oracle() -> str:
    """Twin of transcript.tool_usage over the with_synthetic_tools
    augmentation (hash60-picked tool on every third assistant turn)."""
    return f"""WITH {TURNS_SQL.strip()} , {_TOOLS_CTE.strip()}
SELECT tool,
       CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum(turn_idx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS mean_turn_idx
FROM tcalls GROUP BY tool"""


def tool_transitions_oracle() -> str:
    """Twin of transcript.tool_transitions: conv-partitioned lag over the
    synthetic tool calls, (tool_from, tool_to) counts."""
    return f"""WITH {TURNS_SQL.strip()} , {_TOOLS_CTE.strip()},
lagged AS (
    SELECT conv_id, tool,
           lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS tool_from
    FROM tcalls
)
SELECT tool_from, tool AS tool_to, CAST(count(*) AS BIGINT) AS n
FROM lagged WHERE tool_from IS NOT NULL
GROUP BY tool_from, tool"""


def tool_chains_oracle() -> str:
    """Twin of transcript.tool_chains: gaps-and-islands double
    row_number over the synthetic tool-call subsequence, per-conv
    longest run with the (len DESC, tool ASC, start ASC) tie order."""
    return f"""WITH {TURNS_SQL.strip()} , {_TOOLS_CTE.strip()},
isl AS (
    SELECT conv_id, turn_idx, tool,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         - row_number() OVER (PARTITION BY conv_id, tool ORDER BY turn_idx)
               AS isl
    FROM tcalls
),
runs AS (
    SELECT conv_id, tool, isl,
           CAST(count(*) AS BIGINT) AS run_len,
           CAST(min(turn_idx) AS INT) AS start_turn
    FROM isl GROUP BY 1, 2, 3
),
picked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id
        ORDER BY run_len DESC, tool ASC, start_turn ASC) AS rn
    FROM runs
)
SELECT conv_id, tool, run_len, start_turn FROM picked WHERE rn = 1"""


def conv_funnel_oracle() -> str:
    """Twin of transcript.conv_funnel: four scalar distinct-conv counts
    over the shared turn/tool/mention/pair CTEs, exact-integer yields."""
    return f"""{_PRELUDE} , {_TOOLS_CTE.strip()},
counts AS (
    SELECT
      (SELECT count(DISTINCT conv_id) FROM turns) AS n_convs,
      (SELECT count(DISTINCT conv_id) FROM tcalls) AS n_tooled,
      (SELECT count(DISTINCT conv_id) FROM mentions) AS n_mentioned,
      (SELECT count(DISTINCT conv_id) FROM pairs) AS n_tripled
)
SELECT CAST(n_convs AS BIGINT) AS n_convs,
       CAST(n_tooled AS BIGINT) AS n_tooled,
       CAST(n_mentioned AS BIGINT) AS n_mentioned,
       CAST(n_tripled AS BIGINT) AS n_tripled,
       CAST(n_mentioned AS DOUBLE)
           / CAST(greatest(n_convs, 1) AS DOUBLE) AS mention_yield,
       CAST(n_tripled AS DOUBLE)
           / CAST(greatest(n_convs, 1) AS DOUBLE) AS triple_yield
FROM counts"""


def turn_length_drift_oracle() -> str:
    """Twin of transcript.turn_length_drift."""
    return f"""WITH {TURNS_SQL.strip()},
lens AS (
    SELECT turn_idx,
           len(list_filter(regexp_split_to_array(text, '\\s+'),
                           t -> t <> '')) AS _n
    FROM turns
)
SELECT turn_idx,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(_n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tokens
FROM lens GROUP BY turn_idx"""


def gap_hist_oracle() -> str:
    """Twin of transcript.gap_hist over the synthetic gap-ful clock the
    sessions query uses."""
    return f"""WITH {TURNS_SQL.strip()},
clocked AS (
    SELECT conv_id, turn_idx,
           turn_idx * 2 + (turn_idx // 4) * 60 AS ts_sec
    FROM turns
),
gaps AS (
    SELECT conv_id,
           ts_sec - lag(ts_sec) OVER (
               PARTITION BY conv_id ORDER BY turn_idx) AS gap
    FROM clocked
)
SELECT CASE WHEN gap > 0 THEN CAST(length(bin(gap)) - 1 AS BIGINT)
            WHEN gap = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(-2 AS BIGINT) END AS log2_bin,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap,
       CAST(max(gap) AS BIGINT) AS max_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY 1"""


def role_vocab_divergence_oracle(
    min_count: int = 5, scale: int = 1_000_000
) -> str:
    """Twin of transcript.role_vocab_divergence."""
    return f"""WITH {TURNS_SQL.strip()},
toks AS (
    SELECT role,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS token
    FROM turns
),
agg AS (
    SELECT token,
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_user,
           CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_assistant
    FROM toks GROUP BY token
)
SELECT token, n_user, n_assistant,
       CAST(n_assistant * {scale} // (n_user + n_assistant) AS BIGINT)
           AS assistant_ppm
FROM agg
WHERE n_user + n_assistant >= {min_count}"""


def event_schema_profile_oracle() -> str:
    """Twin of extraction.event_schema_profile over the events chain."""
    return f"""WITH ev AS (
{events_oracle()}
),
per AS (
    SELECT event_type, role,
           CAST(count(*) AS BIGINT) AS n_args,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
    FROM ev GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(sum(n_args) AS BIGINT) AS _t FROM per GROUP BY 1)
SELECT p.event_type, p.role, p.n_args, p.n_convs,
       CAST(p.n_args AS DOUBLE) / CAST(t._t AS DOUBLE) AS role_share
FROM per p JOIN tot t ON p.event_type = t.event_type"""
