"""DuckDB oracle twins for the coref / linking / graph / eval queries.

Same portability rules as dygiepp_spark.oracles (md5 hashing, exact
integer-over-integer doubles, total-order tiebreaks). The coref oracle
exploits the structure of the same-surface antecedent rule: connected
components over nearest-previous-same-surface edges (window <= 100) are
exactly the maximal runs of same-surface mentions whose consecutive gaps
are <= 100 — expressible with two windows (lag-based segmentation + min
per segment), which cross-checks the iterative min-id-propagation CC in
dygiepp_spark.operators.coref against an independent formulation.
"""

from __future__ import annotations

import os

from dygiepp_spark.oracles import BEAMS_SQL, MENTIONS_SQL, PAIRS_SQL
from dygiepp_spark.tables import (
    ENTITY_DICT_SQL,
    RELATION_LABELS,
    RELATION_MAX_DIST,
    TOKENS_SQL,
    TURNS_SQL,
)

_LABELS = "[" + ", ".join(f"'{v}'" for v in RELATION_LABELS) + "]"

_BASE = f"WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()} , {MENTIONS_SQL.strip()}"

# --------------------------------------------------------------------------
# coref
# --------------------------------------------------------------------------

_COREF_CTES = """
m_ord AS (
    SELECT conv_id, turn_idx, start, "end", surface,
           CAST(row_number() OVER (PARTITION BY conv_id
                                   ORDER BY turn_idx, start, "end") - 1 AS INT)
             AS mention_ix
    FROM mentions
),
seg AS (
    SELECT *,
           CASE WHEN lag(mention_ix) OVER w IS NULL
                  OR mention_ix - lag(mention_ix) OVER w > 100
                THEN 1 ELSE 0 END AS new_seg
    FROM m_ord
    WINDOW w AS (PARTITION BY conv_id, surface ORDER BY mention_ix)
),
grp AS (
    SELECT *, sum(new_seg) OVER (PARTITION BY conv_id, surface
                                 ORDER BY mention_ix) AS seg_id
    FROM seg
),
clusters AS (
    SELECT conv_id, turn_idx, start, "end", surface, mention_ix,
           CAST(min(mention_ix) OVER (PARTITION BY conv_id, surface, seg_id)
                AS INT) AS cluster_id
    FROM grp
)
"""


def coref_clusters_oracle() -> str:
    return f"""{_BASE} , {_COREF_CTES.strip()}
SELECT conv_id, turn_idx, start, "end", surface, mention_ix, cluster_id
FROM clusters"""


def coref_canonical_oracle() -> str:
    return f"""{_BASE} , {_COREF_CTES.strip()}
SELECT conv_id, cluster_id,
       arg_max(surface, ("end" - start) * 1000000 - mention_ix) AS exemplar_text,
       CAST(count(*) AS INT) AS n_members
FROM clusters
GROUP BY conv_id, cluster_id"""


_G5_CTES = """
gold_cl AS (
    SELECT conv_id, mention_ix,
           CAST(min(mention_ix) OVER (PARTITION BY conv_id, surface) AS INT) AS gc
    FROM m_ord
),
j AS (
    SELECT c.conv_id, c.mention_ix, c.cluster_id AS pc, g.gc
    FROM clusters c JOIN gold_cl g USING (conv_id, mention_ix)
)
"""


def coref_muc_oracle() -> str:
    p = "CAST(prec_num AS DOUBLE) / CAST(greatest(prec_den, 1) AS DOUBLE)"
    r = "CAST(rec_num AS DOUBLE) / CAST(greatest(rec_den, 1) AS DOUBLE)"
    f1 = (
        f"CASE WHEN ({p}) + ({r}) > 0 THEN 2.0 * ({p}) * ({r}) / (({p}) + ({r})) "
        "ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"""{_BASE} , {_COREF_CTES.strip()} , {_G5_CTES.strip()},
pg AS (SELECT conv_id, gc, count(*) AS n, count(DISTINCT pc) AS p FROM j GROUP BY 1, 2),
pp AS (SELECT conv_id, pc, count(*) AS n, count(DISTINCT gc) AS p FROM j GROUP BY 1, 2),
sums AS (
    SELECT CAST((SELECT sum(n - p) FROM pp) AS BIGINT) AS prec_num,
           CAST((SELECT sum(n - 1) FROM pp) AS BIGINT) AS prec_den,
           CAST((SELECT sum(n - p) FROM pg) AS BIGINT) AS rec_num,
           CAST((SELECT sum(n - 1) FROM pg) AS BIGINT) AS rec_den
)
SELECT prec_num, prec_den, rec_num, rec_den,
       {p} AS precision, {r} AS recall, {f1} AS f1
FROM sums"""


def coref_b3_counts_oracle() -> str:
    return f"""{_BASE} , {_COREF_CTES.strip()} , {_G5_CTES.strip()},
pair AS (SELECT conv_id, pc, gc, count(*) AS n_pg FROM j GROUP BY 1, 2, 3),
np AS (SELECT conv_id, pc, count(*) AS n_p FROM j GROUP BY 1, 2),
ng AS (SELECT conv_id, gc, count(*) AS n_g FROM j GROUP BY 1, 2)
SELECT pair.conv_id, pair.pc, pair.gc, pair.n_pg, np.n_p, ng.n_g
FROM pair
JOIN np ON np.conv_id = pair.conv_id AND np.pc = pair.pc
JOIN ng ON ng.conv_id = pair.conv_id AND ng.gc = pair.gc"""


def coref_mention_recall_oracle() -> str:
    """G5 MentionRecall twin: non-singleton cluster membership on each
    side, per-conv recall + __total__ accumulator row."""
    return f"""{_BASE} , {_COREF_CTES.strip()},
gold_cl AS (
    SELECT conv_id, mention_ix,
           CAST(min(mention_ix) OVER (PARTITION BY conv_id, surface) AS INT) AS gc
    FROM m_ord
),
psz AS (SELECT conv_id, cluster_id, count(*) AS n FROM clusters GROUP BY 1, 2),
pns AS MATERIALIZED (
    SELECT c.conv_id, c.mention_ix
    FROM clusters c
    JOIN psz ON psz.conv_id = c.conv_id AND psz.cluster_id = c.cluster_id
    WHERE psz.n >= 2
),
gsz AS (SELECT conv_id, gc, count(*) AS n FROM gold_cl GROUP BY 1, 2),
gns AS (
    SELECT g.conv_id, g.mention_ix
    FROM gold_cl g
    JOIN gsz ON gsz.conv_id = g.conv_id AND gsz.gc = g.gc
    WHERE gsz.n >= 2
),
per_conv AS MATERIALIZED (
    SELECT g.conv_id,
           CAST(count(*) AS BIGINT) AS n_gold,
           CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM pns p
               WHERE p.conv_id = g.conv_id AND p.mention_ix = g.mention_ix
           ) THEN 1 ELSE 0 END) AS BIGINT) AS n_recalled
    FROM gns g GROUP BY g.conv_id
)
SELECT conv_id, n_gold, n_recalled,
       CAST(n_recalled AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)
         AS recall
FROM per_conv
UNION ALL
SELECT '__total__',
       CAST(sum(n_gold) AS BIGINT),
       CAST(sum(n_recalled) AS BIGINT),
       CAST(sum(n_recalled) AS DOUBLE)
         / CAST(greatest(sum(n_gold), 1) AS DOUBLE)
FROM per_conv"""


def ie_eval_coref_expand_oracle() -> str:
    """K2 coref/alias expansion twin: pred args try every alias variant
    (the shorthand dimension of tables.ALIAS_SQL); gold is written in
    shorthand, so plain exact matching scores 0 and only the expansion
    finds the pairs. tp/n_pred count ORIGINAL pred keys."""
    from dygiepp_spark.tables import ALIAS_SQL

    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred, 1) AS DOUBLE)"
    rec = "CAST(tp_recall AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()} , {ALIAS_SQL},
gold_sh AS (
    SELECT conv_id, regexp_replace(arg0, '[aeiou]', '', 'g') AS arg0,
           regexp_replace(arg1, '[aeiou]', '', 'g') AS arg1, label
    FROM gold
),
pv AS (
    SELECT p.conv_id, p.arg0, p.arg1, p.label,
           coalesce(a0.variant, p.arg0) AS m0,
           coalesce(a1.variant, p.arg1) AS m1
    FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM triples) p
    LEFT JOIN al a0 ON a0.name = p.arg0
    LEFT JOIN al a1 ON a1.name = p.arg1
),
m AS (
    SELECT p.conv_id AS pc, p.arg0 AS pa0, p.arg1 AS pa1,
           g.conv_id AS gc, g.arg0 AS ga0, g.arg1 AS ga1
    FROM pv p JOIN gold_sh g ON p.conv_id = g.conv_id AND p.label = g.label
        AND lower(trim(p.m0)) = lower(trim(g.arg0))
        AND lower(trim(p.m1)) = lower(trim(g.arg1))
),
counts AS (
    SELECT
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM triples)) AS n_pred,
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM gold_sh)) AS n_gold,
      (SELECT count(*) FROM (SELECT DISTINCT pc, pa0, pa1 FROM m)) AS tp,
      (SELECT count(*) FROM (SELECT DISTINCT gc, ga0, ga1 FROM m)) AS tp_recall
)
SELECT n_pred, n_gold, tp, tp_recall,
       {prec} AS precision,
       {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def micro_prf_namespaced_oracle(n_namespaces: int = 3) -> str:
    """G6 twin: per-namespace micro P/R/F1 + fixed-order __mean__ row
    (left-associated fold over ns = 0..n-1 matching the Python fold).
    The shard domain is the FIXED set 0..n-1 (zeroed counts for empty
    shards, mean divided by n) — same contract as the Spark side, so the
    engines agree even on corpora where a shard is empty; TRY_CAST drops
    non-numeric conv_ids like the Spark NULL-namespace filter."""
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred, 1) AS DOUBLE)"
    rec = "CAST(tp AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)"
    f1 = (
        f"CASE WHEN ({prec}) + ({rec}) > 0 "
        f"THEN 2.0 * ({prec}) * ({rec}) / (({prec}) + ({rec})) "
        "ELSE CAST(0.0 AS DOUBLE) END"
    )

    def fold(col: str) -> str:
        expr = f"(SELECT {col} FROM rows WHERE namespace = '0')"
        for i in range(1, n_namespaces):
            expr = f"({expr} + (SELECT {col} FROM rows WHERE namespace = '{i}'))"
        return f"{expr} / {float(n_namespaces)}"

    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
p2 AS (SELECT DISTINCT TRY_CAST(conv_id AS BIGINT) % {n_namespaces} AS ns,
              conv_id, arg0, arg1, label FROM triples
       WHERE TRY_CAST(conv_id AS BIGINT) IS NOT NULL),
g2 AS (SELECT DISTINCT TRY_CAST(conv_id AS BIGINT) % {n_namespaces} AS ns,
              conv_id, arg0, arg1, label FROM gold
       WHERE TRY_CAST(conv_id AS BIGINT) IS NOT NULL),
np2 AS (SELECT ns, count(*) AS n_pred FROM p2 GROUP BY ns),
ng2 AS (SELECT ns, count(*) AS n_gold FROM g2 GROUP BY ns),
tp2 AS (SELECT p2.ns AS ns, count(*) AS tp
        FROM p2 JOIN g2 USING (ns, conv_id, arg0, arg1, label) GROUP BY p2.ns),
shards AS (SELECT unnest(range({n_namespaces})) AS ns),
rows AS MATERIALIZED (
    SELECT CAST(s.ns AS VARCHAR) AS namespace,
           CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
           CAST(coalesce(n_gold, 0) AS BIGINT) AS n_gold,
           CAST(coalesce(tp, 0) AS BIGINT) AS tp
    FROM shards s
    LEFT JOIN np2 ON np2.ns = s.ns
    LEFT JOIN ng2 ON ng2.ns = s.ns
    LEFT JOIN tp2 ON tp2.ns = s.ns
)
SELECT namespace, n_pred, n_gold, tp,
       {prec} AS precision, {rec} AS recall, {f1} AS f1
FROM rows
UNION ALL
SELECT '__mean__', NULL, NULL, NULL,
       {fold(prec)}, {fold(rec)}, {fold(f1)}"""


def baseline_allpairs_oracle() -> str:
    """K9 allpairs_base twin: every ordered same-sentence mention pair."""
    return f"""{_BASE}
SELECT DISTINCT a.conv_id AS conv_id, a.surface AS arg0, b.surface AS arg1
FROM mentions a JOIN mentions b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
 AND a.start <> b.start"""


def baseline_depparse_oracle() -> str:
    """K9 depparse_base twin (trigger-pivot stand-in): mention-left,
    trigger, mention-right bridges."""
    from dygiepp_spark.tables import TRIGGER_VOCAB

    trigs = ", ".join(f"'{t}'" for t in TRIGGER_VOCAB)
    return f"""{_BASE},
trigs AS (SELECT conv_id, turn_idx, tok_ix FROM tokens WHERE token IN ({trigs}))
SELECT DISTINCT s.conv_id AS conv_id, s.surface AS arg0, o.surface AS arg1
FROM mentions s
JOIN trigs t ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
            AND s.start < t.tok_ix
JOIN mentions o ON o.conv_id = t.conv_id AND o.turn_idx = t.turn_idx
               AND o.start > t.tok_ix"""


def baseline_srl_oracle() -> str:
    """K9 srl_baseline twin: unique-text representative rows, trigger
    verb frames with the ordered-stem srlmap CASE chain, leftmost
    mention on each side of the verb."""
    from dygiepp_spark.tables import SRL_STEM_MAP, TRIGGER_VOCAB

    trigs = ", ".join(f"'{t}'" for t in TRIGGER_VOCAB)
    case = "CASE " + " ".join(
        f"WHEN position('{stem}' IN tk.token) > 0 THEN '{label}'"
        for stem, label in SRL_STEM_MAP
    ) + " ELSE NULL END"
    return f"""{_BASE},
rep AS (
    SELECT conv_id, turn_idx FROM (
        SELECT conv_id, turn_idx,
               row_number() OVER (
                   PARTITION BY text
                   ORDER BY CAST(conv_id AS BIGINT), turn_idx, conv_id
               ) AS rn
        FROM turns
    ) WHERE rn = 1
),
rment AS MATERIALIZED (
    SELECT m.* FROM mentions m
    JOIN rep r ON m.conv_id = r.conv_id AND m.turn_idx = r.turn_idx
),
rtrig AS (
    SELECT tk.conv_id, tk.turn_idx, tk.tok_ix, {case} AS label
    FROM tokens tk
    JOIN rep r ON tk.conv_id = r.conv_id AND tk.turn_idx = r.turn_idx
    WHERE tk.token IN ({trigs})
),
sides AS (
    SELECT t.conv_id, t.turn_idx, t.tok_ix, t.label,
           min(CASE WHEN m.start < t.tok_ix THEN m.start END) AS l_pos,
           min(CASE WHEN m.start > t.tok_ix THEN m.start END) AS r_pos
    FROM rtrig t
    JOIN rment m ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
    WHERE t.label IS NOT NULL
    GROUP BY 1, 2, 3, 4
)
SELECT s.conv_id AS conv_id, ml.surface AS arg0, mr.surface AS arg1,
       s.label AS label, CAST(1.0 AS DOUBLE) AS conf
FROM sides s
JOIN rment ml ON ml.conv_id = s.conv_id AND ml.turn_idx = s.turn_idx
             AND ml.start = s.l_pos
JOIN rment mr ON mr.conv_id = s.conv_id AND mr.turn_idx = s.turn_idx
             AND mr.start = s.r_pos"""


def coref_ceafe_oracle() -> str:
    """Twin of coref.ceafe_stats. The oracle does NOT solve a general
    assignment problem in SQL — it exploits the corpus's laminar overlap
    structure: every windowed pred cluster (conv, surface, segment) lies
    entirely inside one global gold cluster (conv, surface), so per-gold
    choices are independent and the optimal Kuhn–Munkres alignment equals
    the per-gold argmax of φ4. Ties are harmless: equal φ4 under
    laminarity implies identical (phi_num, phi_den) output. The Spark side
    runs the general exact-rational Hungarian (unit-tested against brute
    force on non-laminar inputs)."""
    return f"""{_BASE} , {_COREF_CTES.strip()} , {_G5_CTES.strip()},
pair AS (SELECT conv_id, pc, gc, count(*) AS n_pg FROM j GROUP BY 1, 2, 3),
np AS (SELECT conv_id, pc, count(*) AS n_p FROM j GROUP BY 1, 2),
ng AS (SELECT conv_id, gc, count(*) AS n_g FROM j GROUP BY 1, 2),
ov AS (
    SELECT pair.conv_id, pair.pc, pair.gc, pair.n_pg, np.n_p, ng.n_g
    FROM pair
    JOIN np ON np.conv_id = pair.conv_id AND np.pc = pair.pc
    JOIN ng ON ng.conv_id = pair.conv_id AND ng.gc = pair.gc
)
SELECT conv_id, CAST(gc AS BIGINT) AS gc,
       CAST(phi_num AS BIGINT) AS phi_num, CAST(phi_den AS BIGINT) AS phi_den
FROM (
    SELECT conv_id, gc, 2 * n_pg AS phi_num, n_p + n_g AS phi_den,
           row_number() OVER (
               PARTITION BY conv_id, gc
               ORDER BY CAST(2 * n_pg AS DOUBLE) / CAST(n_p + n_g AS DOUBLE) DESC,
                        pc) AS rn
    FROM ov
) WHERE rn = 1"""


# --------------------------------------------------------------------------
# linking + graph materialization
# --------------------------------------------------------------------------

_LINKED_CTE = """
linked AS (
    SELECT m.conv_id, m.turn_idx, m.start, m."end", m.surface,
           COALESCE(d.entity_id, 'S:' || lower(trim(m.surface))) AS entity_id,
           COALESCE(d.canonical_text, m.surface) AS canonical_text,
           COALESCE(d.type, 'UNKNOWN') AS type
    FROM mentions m
    LEFT JOIN entity_dict d ON lower(trim(d.surface)) = lower(trim(m.surface))
)
"""

_PAIRS_RAW_CTE = f"""
pairs_raw AS (
    SELECT a.conv_id AS conv_id, a.turn_idx AS turn_idx,
           a.start AS s1, a."end" AS e1, b.start AS s2, b."end" AS e2,
           a.surface AS arg0, b.surface AS arg1,
           b.start - a.start AS dist,
           {_LABELS}[((len(a.surface) + 2 * len(b.surface)) % {len(RELATION_LABELS)}) + 1] AS label,
           CAST(1 AS DOUBLE) / (1 + (b.start - a.start)) AS conf
    FROM mentions a
    JOIN mentions b
      ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
     AND b.start > a.start AND b.start - a.start <= {RELATION_MAX_DIST}
)
"""


def linked_mentions_oracle() -> str:
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()}
SELECT conv_id, turn_idx, start, "end", surface, entity_id, canonical_text, type
FROM linked"""


_EDGES_SQL = """
edges AS (
    SELECT ls.entity_id AS subj_id, p.label AS pred, lo.entity_id AS obj_id,
           p.conv_id, p.turn_idx, p.conf,
           'extract:' || p.conv_id || ':' || CAST(p.turn_idx AS VARCHAR)
             || ':' || CAST(p.s1 AS VARCHAR) || ':' || CAST(p.s2 AS VARCHAR)
             AS provenance
    FROM pairs_raw p
    JOIN linked ls ON ls.conv_id = p.conv_id AND ls.turn_idx = p.turn_idx
                  AND ls.start = p.s1
    JOIN linked lo ON lo.conv_id = p.conv_id AND lo.turn_idx = p.turn_idx
                  AND lo.start = p.s2
)
"""


# The symmetrized edge list over an ``edges`` CTE, twin of
# graph._sym_edges: distinct undirected (lo, hi) pairs without self-loops
# as ``und``, both directions as ``sym``. MATERIALIZED like every
# per-round CTE of the unrolled twins: DuckDB 1.0 inlines each reference
# to a plain CTE, so a round that reads the previous one twice doubles
# the plan.
_SYM_CTE = """
und AS MATERIALIZED (
    SELECT DISTINCT least(subj_id, obj_id) AS lo,
                    greatest(subj_id, obj_id) AS hi
    FROM edges WHERE subj_id <> obj_id
),
sym AS MATERIALIZED (SELECT lo, hi FROM und UNION ALL SELECT hi, lo FROM und)
"""

#: the linked-KG edge list and its symmetrized form: the head of every
#: undirected graph twin
_KG_SYM = (
    f"{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , "
    f"{_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},\n{_SYM_CTE.strip()}"
)


def kg_edges_oracle() -> str:
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()}
SELECT subj_id, pred, obj_id, conv_id, turn_idx, conf, provenance FROM edges"""


def kg_nodes_oracle() -> str:
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()}
SELECT entity_id,
       min(canonical_text) AS canonical_text,
       min(type) AS type,
       count(*) AS n_mentions
FROM linked
GROUP BY entity_id"""


def kg_edges_agg_oracle() -> str:
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()}
SELECT subj_id, pred, obj_id,
       count(*) AS support,
       max(conf) AS max_conf,
       count(DISTINCT conv_id) AS n_convs
FROM edges
GROUP BY subj_id, pred, obj_id"""


# --------------------------------------------------------------------------
# eval layer (pred = triples from the beamed pipeline; gold = dist<=3 subset)
# --------------------------------------------------------------------------

_EVAL_BASE = (
    f"WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()} , {MENTIONS_SQL.strip()} , "
    f"{BEAMS_SQL.strip()} , {PAIRS_SQL.strip()}"
)

_TRIPLES_CTE = """
triples AS (
    SELECT p.conv_id AS conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label,
           arg_max(p.conf, p.s1 * 1000 + p.s2) AS conf
    FROM pairs p
    JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
    GROUP BY p.conv_id, t.text, p.arg0, p.arg1, p.label
)
"""

_GOLD_CTE = """
gold AS (
    SELECT conv_id, arg0, arg1, label, conf FROM (
        SELECT p.*, row_number() OVER (PARTITION BY conv_id, arg0, arg1
                                       ORDER BY turn_idx, s1, s2) AS rn
        FROM (SELECT * FROM pairs WHERE dist <= 3) p
    ) WHERE rn = 1
)
"""

#: parenthesized so textual substitution keeps the same IEEE evaluation
#: order as the Spark column expression: ((2*p)*r)/(p+r)
_F1 = (
    "CASE WHEN ({p}) + ({r}) > 0 THEN 2.0 * ({p}) * ({r}) / (({p}) + ({r})) "
    "ELSE CAST(0.0 AS DOUBLE) END"
)


def _ie_eval_sql(match0: str, match1: str) -> str:
    """Shared K3 skeleton; match0/match1 are SQL predicates over p./g. arg
    columns."""
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred, 1) AS DOUBLE)"
    rec = "CAST(tp_recall AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
m AS (
    SELECT p.conv_id AS pc, p.arg0 AS pa0, p.arg1 AS pa1,
           g.conv_id AS gc, g.arg0 AS ga0, g.arg1 AS ga1
    FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM triples) p
    JOIN gold g ON p.conv_id = g.conv_id AND p.label = g.label
               AND ({match0}) AND ({match1})
),
counts AS (
    SELECT
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM triples)) AS n_pred,
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM gold)) AS n_gold,
      (SELECT count(*) FROM (SELECT DISTINCT pc, pa0, pa1 FROM m)) AS tp,
      (SELECT count(*) FROM (SELECT DISTINCT gc, ga0, ga1 FROM m)) AS tp_recall
)
SELECT n_pred, n_gold, tp, tp_recall,
       {prec} AS precision,
       {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def _gold_ctx_cte(max_dist: int = 3, window: int = 1) -> str:
    """Twin of kg_eval.gold_triples_ctx: gold args widened by ±window
    non-empty tokens, clipped at sentence edges, first-occurrence dedup."""
    toks = "list_filter(string_split(t.text, ' '), x -> x <> '')"

    def ctx(s: str, e: str) -> str:
        return (
            f"array_to_string(array_slice({toks}, "
            f"greatest({s} - {window} + 1, 1), "
            f"least(len({toks}), {e} + {window} + 1)), ' ')"
        )

    return f"""gold_ctx AS (
    SELECT conv_id, arg0, arg1, label, conf FROM (
        SELECT *, row_number() OVER (PARTITION BY conv_id, arg0, arg1
                                     ORDER BY turn_idx, s1, s2) AS rn
        FROM (
            SELECT p.conv_id AS conv_id, p.turn_idx AS turn_idx,
                   p.s1 AS s1, p.s2 AS s2, p.label AS label, p.conf AS conf,
                   {ctx('p.s1', 'p.e1')} AS arg0,
                   {ctx('p.s2', 'p.e2')} AS arg1
            FROM (SELECT * FROM pairs WHERE dist <= {max_dist}) p
            JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
        )
    ) WHERE rn = 1
)"""


def _ie_eval_sql2(
    match_expr: str,
    gold_cte: str,
    gold_name: str,
    pred_cte: str = "",
    pred_name: str = "triples",
) -> str:
    """Generalized K3 skeleton: arbitrary match predicate (reverse unions),
    pluggable gold CTE (context-widened variants) and pred CTE (top-k
    cuts). Label equality stays in the join like _ie_eval_sql."""
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred, 1) AS DOUBLE)"
    rec = "CAST(tp_recall AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)"
    pred_part = f" , {pred_cte.strip()}" if pred_cte else ""
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {gold_cte.strip()}{pred_part},
m AS (
    SELECT p.conv_id AS pc, p.arg0 AS pa0, p.arg1 AS pa1,
           g.conv_id AS gc, g.arg0 AS ga0, g.arg1 AS ga1
    FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM {pred_name}) p
    JOIN {gold_name} g ON p.conv_id = g.conv_id AND p.label = g.label
               AND ({match_expr})
),
counts AS (
    SELECT
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM {pred_name})) AS n_pred,
      (SELECT count(*) FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM {gold_name})) AS n_gold,
      (SELECT count(*) FROM (SELECT DISTINCT pc, pa0, pa1 FROM m)) AS tp,
      (SELECT count(*) FROM (SELECT DISTINCT gc, ga0, ga1 FROM m)) AS tp_recall
)
SELECT n_pred, n_gold, tp, tp_recall,
       {prec} AS precision,
       {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def ie_eval_reverse_oracle() -> str:
    """K2 consider_reverse (eval_utils.py:283-335): forward OR swapped-args
    match, label equality on both branches."""
    ex = "lower(trim(p.arg{a})) = lower(trim(g.arg{b}))"
    fwd = f"({ex.format(a=0, b=0)}) AND ({ex.format(a=1, b=1)})"
    rev = f"({ex.format(a=0, b=1)}) AND ({ex.format(a=1, b=0)})"
    return _ie_eval_sql2(f"({fwd}) OR ({rev})", _GOLD_CTE, "gold")


def ie_eval_topk_oracle(k: int) -> str:
    """K3 topK cut: HEAD-k by confidence (predrels[:topK]), deterministic
    tiebreak on the triple key — twin of ie_eval(topk=k)."""
    pred_cte = f"""pred_cut AS (
    SELECT conv_id, sent_text, arg0, arg1, label, conf FROM (
        SELECT t.*, row_number() OVER (
            ORDER BY conf DESC, conv_id, arg0, arg1, label) AS rn
        FROM triples t
    ) WHERE rn <= {k}
)"""
    ex0 = "lower(trim(p.arg0)) = lower(trim(g.arg0))"
    ex1 = "lower(trim(p.arg1)) = lower(trim(g.arg1))"
    return _ie_eval_sql2(
        f"({ex0}) AND ({ex1})", _GOLD_CTE, "gold",
        pred_cte=pred_cte, pred_name="pred_cut",
    )


def _rouge_f_sql(pred_arg: str, gold_arg: str) -> str:
    """rouge-L f of (1-token pred, multi-token gold) — mirrors
    kg_eval._rouge_l_f_py's formula (pltrdy/rouge ``_f_p_r_lcs``) with the
    same stabilizers and evaluation order. The LCS of a single-token
    hypothesis degenerates to list membership, which is what makes this
    twin SQL-expressible; the Spark side runs the full DP for arbitrary
    spans (unit-tested against brute force)."""
    toks_g = f"string_split(lower(trim({gold_arg})), ' ')"
    llcs = (
        f"(CASE WHEN list_contains({toks_g}, lower(trim({pred_arg}))) "
        "THEN 1 ELSE 0 END)"
    )
    p_lcs = f"(CAST({llcs} AS DOUBLE) / 1.0)"
    r_lcs = f"(CAST({llcs} AS DOUBLE) / CAST(len({toks_g}) AS DOUBLE))"
    beta = f"({p_lcs} / ({r_lcs} + 1e-12))"
    num = f"((1 + pow({beta}, 2)) * {r_lcs} * {p_lcs})"
    denom = f"({r_lcs} + (pow({beta}, 2) * {p_lcs}))"
    return f"({num} / ({denom} + 1e-8))"


def ie_eval_rouge_oracle(thresh: float = 0.3) -> str:
    """K1 'rouge' (eval_utils.py:227-232): rouge-L f strictly > thresh,
    against the context-widened gold."""
    m0 = f"{_rouge_f_sql('p.arg0', 'g.arg0')} > {thresh}"
    m1 = f"{_rouge_f_sql('p.arg1', 'g.arg1')} > {thresh}"
    return _ie_eval_sql2(
        f"({m0}) AND ({m1})", _gold_ctx_cte(), "gold_ctx"
    )


def ie_eval_head_oracle() -> str:
    """K1 'head' (eval_utils.py:221-226): head-token equality with the
    documented last-token stand-in (no dependency parser in-env), against
    the context-widened gold."""
    last = "(string_split(lower(trim({x})), ' '))[-1]"
    m0 = f"{last.format(x='p.arg0')} = {last.format(x='g.arg0')}"
    m1 = f"{last.format(x='p.arg1')} = {last.format(x='g.arg1')}"
    return _ie_eval_sql2(
        f"({m0}) AND ({m1})", _gold_ctx_cte(), "gold_ctx"
    )


def eval_grid_oracle(
    metrics: tuple = ("exact", "substring", "rouge", "partial"),
    topks: tuple = (50, 100, 150, 200),
    rouge_thresh: float = 0.3,
) -> str:
    """Twin of kg_eval.eval_grid: every (metric x collapse) relation cell,
    per-metric span cell, and P@K cell in ONE query — shared MATERIALIZED
    pred/gold/ranked CTEs, one small CTE per cell, UNION ALL of the cell
    rows."""

    def arg_match(metric: str, a: str, b: str) -> str:
        if metric == "exact":
            return f"lower(trim({a})) = lower(trim({b}))"
        if metric == "substring":
            return (
                f"(contains(lower(trim({a})), lower(trim({b}))) "
                f"OR contains(lower(trim({b})), lower(trim({a}))))"
            )
        if metric == "rouge":
            return f"{_rouge_f_sql(a, b)} > {rouge_thresh}"
        if metric == "partial":
            return _partial_match_sql(a, b, 0.3)
        raise ValueError(metric)

    max_k = max(topks)
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred, 1) AS DOUBLE)"
    rec = "CAST(tp_recall AS DOUBLE) / CAST(greatest(n_gold, 1) AS DOUBLE)"
    f1 = _F1.format(p=prec, r=rec)

    ctes, branches = [], []
    for metric in metrics:
        m = (
            f"({arg_match(metric, 'p.arg0', 'g.arg0')}) "
            f"AND ({arg_match(metric, 'p.arg1', 'g.arg1')})"
        )
        for collapse in (False, True):
            lbl = "" if collapse else " AND p.label = g.label"
            cn = f"c_rel_{metric}_{int(collapse)}"
            ctes.append(f"""{cn} AS (
    SELECT
      (SELECT v FROM npred) AS n_pred, (SELECT v FROM ngold) AS n_gold,
      (SELECT count(*) FROM (SELECT DISTINCT p.conv_id, p.arg0, p.arg1
          FROM predk p JOIN goldm g
            ON p.conv_id = g.conv_id AND ({m}){lbl})) AS tp,
      (SELECT count(*) FROM (SELECT DISTINCT g.conv_id, g.arg0, g.arg1
          FROM predk p JOIN goldm g
            ON p.conv_id = g.conv_id AND ({m}){lbl})) AS tp_recall
)""")
            branches.append(
                f"SELECT 'rel' AS kind, '{metric}' AS metric, "
                f"{str(collapse).upper()} AS collapse, CAST(NULL AS INT) AS topk, "
                f"CAST(n_pred AS BIGINT) AS n_pred, CAST(n_gold AS BIGINT) AS n_gold, "
                f"CAST(tp AS BIGINT) AS tp, CAST(tp_recall AS BIGINT) AS tp_recall, "
                f"{prec} AS precision, {rec} AS recall, {f1} AS f1 FROM {cn}"
            )
    for metric in metrics:
        sm = arg_match(metric, "p.span", "g.span")
        cn = f"c_span_{metric}"
        ctes.append(f"""{cn} AS (
    SELECT
      (SELECT v FROM npspan) AS n_pred, (SELECT v FROM ngspan) AS n_gold,
      (SELECT count(*) FROM (SELECT DISTINCT p.conv_id, p.span
          FROM pspan p JOIN gspan g
            ON p.conv_id = g.conv_id AND ({sm}))) AS tp,
      (SELECT count(*) FROM (SELECT DISTINCT g.conv_id, g.span
          FROM pspan p JOIN gspan g
            ON p.conv_id = g.conv_id AND ({sm}))) AS tp_recall
)""")
        branches.append(
            f"SELECT 'span', '{metric}', CAST(NULL AS BOOLEAN), CAST(NULL AS INT), "
            f"CAST(n_pred AS BIGINT), CAST(n_gold AS BIGINT), "
            f"CAST(tp AS BIGINT), CAST(tp_recall AS BIGINT), "
            f"{prec}, {rec}, {f1} FROM {cn}"
        )
    for metric in metrics:
        mk = (
            f"({arg_match(metric, 'p.arg0', 'g.arg0')}) "
            f"AND ({arg_match(metric, 'p.arg1', 'g.arg1')})"
        )
        for k in topks:
            cn = f"c_topk_{metric}_{k}"
            ctes.append(f"""{cn} AS (
    SELECT
      least({k}, (SELECT v FROM nrows)) AS n_pred,
      (SELECT count(*) FROM (SELECT DISTINCT p.conv_id, p.arg0, p.arg1
          FROM ranked p JOIN goldm g
            ON p.conv_id = g.conv_id AND ({mk})
           AND p.label = g.label AND p.rn <= {k})) AS tp
)""")
            branches.append(
                f"SELECT 'p_at_k', '{metric}', FALSE, CAST({k} AS INT), "
                f"CAST(n_pred AS BIGINT), CAST(NULL AS BIGINT), "
                f"CAST(tp AS BIGINT), CAST(NULL AS BIGINT), "
                f"{prec}, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM {cn}"
            )

    shared = f"""tripm AS MATERIALIZED (SELECT * FROM triples),
goldcm AS MATERIALIZED (SELECT * FROM gold_ctx),
predk AS MATERIALIZED (
    SELECT DISTINCT conv_id, arg0, arg1, label FROM tripm
),
goldm AS MATERIALIZED (
    SELECT conv_id, arg0, arg1, label FROM goldcm
),
npred AS (SELECT count(*) AS v
          FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM predk)),
ngold AS (SELECT count(*) AS v
          FROM (SELECT DISTINCT conv_id, arg0, arg1, label FROM goldm)),
pspan AS MATERIALIZED (
    SELECT DISTINCT conv_id, span FROM (
        SELECT conv_id, arg0 AS span FROM tripm
        UNION ALL SELECT conv_id, arg1 FROM tripm)
),
gspan AS MATERIALIZED (
    SELECT DISTINCT conv_id, span FROM (
        SELECT conv_id, arg0 AS span FROM goldcm
        UNION ALL SELECT conv_id, arg1 FROM goldcm)
),
npspan AS (SELECT count(*) AS v FROM pspan),
ngspan AS (SELECT count(*) AS v FROM gspan),
nrows AS (SELECT count(*) AS v FROM tripm),
ranked AS MATERIALIZED (
    SELECT conv_id, arg0, arg1, label, rn FROM (
        SELECT t.*, row_number() OVER (
            ORDER BY conf DESC, conv_id, arg0, arg1, label) AS rn
        FROM tripm t
    ) WHERE rn <= {max_k}
)"""
    all_ctes = ",\n".join([shared] + ctes)
    union = "\nUNION ALL\n".join(branches)
    return (
        f"{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , "
        f"{_gold_ctx_cte().strip()},\n{all_ctes}\n{union}"
    )


def _refind_toks_sql(x: str) -> str:
    """kg_eval.refind_tokens twin: lowercase, strip 'a ' then 'the '
    (sequential, like the reference's two ifs), replace the three
    digraphs, split on single space."""
    s1 = (
        f"(CASE WHEN starts_with(lower({x}), 'a ') "
        f"THEN lower({x})[3:] ELSE lower({x}) END)"
    )
    s2 = f"(CASE WHEN starts_with({s1}, 'the ') THEN {s1}[5:] ELSE {s1} END)"
    s3 = f"replace(replace(replace({s2}, ') ', ' '), '- ', ' '), '( ', ' ')"
    return f"string_split({s3}, ' ')"


def _partial_match_sql(a: str, b: str, thresh: float) -> str:
    """kg_eval.match_partial twin. Arguments follow K2's (pred, gold)
    convention; the reference scores (gold, pred) and the common count
    carries span-1's multiplicity, so the GOLD side (``b``) drives the
    filter here — same internal swap as the Spark column."""
    ta, tb = _refind_toks_sql(a), _refind_toks_sql(b)
    return (
        f"(CAST(len(list_filter({tb}, t -> list_contains({ta}, t))) AS DOUBLE)"
        f" / CAST(greatest(len({ta}), len({tb})) AS DOUBLE)) >= {thresh}"
    )


def _firsttok_match_sql(a: str, b: str) -> str:
    """kg_eval.match_firsttok twin: first refind token equality."""
    return f"({_refind_toks_sql(a)})[1] = ({_refind_toks_sql(b)})[1]"


def ie_eval_partial_oracle(thresh: float = 0.3) -> str:
    """K1 'partial' (eval_metrics.py:40-64): refind-normalized
    token-overlap ratio >= thresh on both argument pairs."""
    return _ie_eval_sql(
        _partial_match_sql("p.arg0", "g.arg0", thresh),
        _partial_match_sql("p.arg1", "g.arg1", thresh),
    )


def ie_eval_firsttok_oracle() -> str:
    """K1 'firsttok' (``scierc_partial_match_score``,
    eval_metrics.py:67-75): first refind-normalized token equality."""
    return _ie_eval_sql(
        _firsttok_match_sql("p.arg0", "g.arg0"),
        _firsttok_match_sql("p.arg1", "g.arg1"),
    )


def ie_eval_exact_oracle() -> str:
    ex0 = "lower(trim(p.arg0)) = lower(trim(g.arg0))"
    ex1 = "lower(trim(p.arg1)) = lower(trim(g.arg1))"
    return _ie_eval_sql(ex0, ex1)


def ie_eval_substring_oracle() -> str:
    s0 = (
        "contains(lower(trim(p.arg0)), lower(trim(g.arg0))) "
        "OR contains(lower(trim(g.arg0)), lower(trim(p.arg0)))"
    )
    s1 = (
        "contains(lower(trim(p.arg1)), lower(trim(g.arg1))) "
        "OR contains(lower(trim(g.arg1)), lower(trim(p.arg1)))"
    )
    return _ie_eval_sql(s0, s1)


def ie_span_eval_oracle() -> str:
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(n_pred_spans, 1) AS DOUBLE)"
    rec = "CAST(tp AS DOUBLE) / CAST(greatest(n_gold_spans, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
ps AS (
    SELECT DISTINCT conv_id, span FROM (
        SELECT conv_id, arg0 AS span FROM triples
        UNION ALL SELECT conv_id, arg1 FROM triples
    )
),
gs AS (
    SELECT DISTINCT conv_id, span FROM (
        SELECT conv_id, arg0 AS span FROM gold
        UNION ALL SELECT conv_id, arg1 FROM gold
    )
),
counts AS (
    SELECT
      (SELECT count(*) FROM ps) AS n_pred_spans,
      (SELECT count(*) FROM gs) AS n_gold_spans,
      (SELECT count(*) FROM ps JOIN gs ON ps.conv_id = gs.conv_id
                                      AND ps.span = gs.span) AS tp
)
SELECT n_pred_spans, n_gold_spans, tp,
       {prec} AS precision, {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def micro_prf_oracle() -> str:
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE)"
    rec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
p AS (SELECT DISTINCT conv_id, arg0, arg1, label FROM triples),
g AS (SELECT DISTINCT conv_id, arg0, arg1, label FROM gold),
counts AS (
    SELECT
      (SELECT count(*) FROM p JOIN g USING (conv_id, arg0, arg1, label)) AS tp,
      (SELECT count(*) FROM p) AS n_p,
      (SELECT count(*) FROM g) AS n_g
)
SELECT tp, n_p - tp AS fp, n_g - tp AS fn,
       {prec} AS precision, {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def gold_transitive_oracle(rounds: int = 2) -> str:
    ctes = ["c0 AS (SELECT conv_id, arg0, arg1, conf FROM gold)"]
    for i in range(rounds):
        prev = f"c{i}"
        cur = f"c{i + 1}"
        ctes.append(
            f"""n{i + 1} AS (
    SELECT a.conv_id, a.arg0, b.arg1, a.conf * b.conf AS conf
    FROM {prev} a JOIN {prev} b
      ON a.conv_id = b.conv_id AND a.arg1 = b.arg0
),
{cur} AS (
    SELECT conv_id, arg0, arg1, max(conf) AS conf FROM (
        SELECT * FROM {prev} UNION ALL SELECT * FROM n{i + 1}
    ) GROUP BY conv_id, arg0, arg1
)"""
        )
    return f"""{_EVAL_BASE} , {_GOLD_CTE.strip()},
{", ".join(ctes)}
SELECT conv_id, arg0, arg1, conf FROM c{rounds}"""


def triples_topk_oracle(k: int = 50) -> str:
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()}
SELECT conv_id, sent_text, arg0, arg1, label, conf FROM (
    SELECT t.*, rank() OVER (ORDER BY conf DESC) AS rk FROM triples t
) WHERE rk <= {k}"""


def ie_errors_oracle() -> str:
    """Twin of kg_eval.ie_errors (eval_utils.py:946-1020): substring
    matching, per-doc found-count gate at < 0.5 x prediction count, gold
    rows with blank pred columns + unmatched non-shadowing pred rows with
    blank gold columns, doc text on every row."""
    s0 = (
        "contains(lower(trim(p.arg0)), lower(trim(g.arg0))) "
        "OR contains(lower(trim(g.arg0)), lower(trim(p.arg0)))"
    )
    s1 = (
        "contains(lower(trim(p.arg1)), lower(trim(g.arg1))) "
        "OR contains(lower(trim(g.arg1)), lower(trim(p.arg1)))"
    )
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
docs AS (
    SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
    FROM turns GROUP BY conv_id
),
pred AS MATERIALIZED (
    SELECT conv_id, arg0, arg1, label, conf FROM triples
),
m AS MATERIALIZED (
    SELECT p.conv_id AS conv_id, p.arg0 AS pa0, p.arg1 AS pa1,
           g.arg0 AS ga0, g.arg1 AS ga1
    FROM pred p
    JOIN gold g ON p.conv_id = g.conv_id AND p.label = g.label
               AND ({s0}) AND ({s1})
),
found AS (
    SELECT conv_id, count(*) AS fc
    FROM (SELECT DISTINCT conv_id, pa0, pa1, ga0, ga1 FROM m)
    GROUP BY conv_id
),
np AS (
    SELECT conv_id, count(*) AS np FROM pred GROUP BY conv_id
),
bad AS MATERIALIZED (
    SELECT np.conv_id AS conv_id
    FROM np
    JOIN (SELECT DISTINCT conv_id FROM gold) gd ON np.conv_id = gd.conv_id
    LEFT JOIN found ON np.conv_id = found.conv_id
    WHERE COALESCE(found.fc, 0) * 2 < np.np
),
gold_rows AS (
    SELECT g.conv_id AS conv_id,
           '' AS arg0_pred, '' AS arg1_pred, '' AS pred_label,
           g.arg0 AS arg0_gold, g.arg1 AS arg1_gold,
           min(g.label) AS gold_label
    FROM gold g JOIN bad USING (conv_id)
    GROUP BY g.conv_id, g.arg0, g.arg1
),
pred_rows AS (
    SELECT conv_id, arg0 AS arg0_pred, arg1 AS arg1_pred,
           label AS pred_label,
           '' AS arg0_gold, '' AS arg1_gold, '' AS gold_label
    FROM (
        SELECT p.*, row_number() OVER (PARTITION BY conv_id, arg0, arg1
                                       ORDER BY conf DESC, label) AS rn
        FROM pred p JOIN bad USING (conv_id)
    ) p
    WHERE rn = 1
      AND NOT EXISTS (SELECT 1 FROM m
                      WHERE m.conv_id = p.conv_id
                        AND m.pa0 = p.arg0 AND m.pa1 = p.arg1)
      AND NOT EXISTS (SELECT 1 FROM gold g
                      WHERE g.conv_id = p.conv_id
                        AND g.arg0 = p.arg0 AND g.arg1 = p.arg1)
)
SELECT u.conv_id, d.text,
       arg0_pred, arg1_pred, pred_label,
       arg0_gold, arg1_gold, gold_label
FROM (SELECT * FROM gold_rows UNION ALL SELECT * FROM pred_rows) u
JOIN docs d ON u.conv_id = d.conv_id"""


def ie_eval_event_oracle(pred_dist: int = 4, gold_dist: int = 2) -> str:
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE)"
    rec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE},
ev AS (
    SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
           t.tok_ix AS trigger_ix, 'op_' || t.token AS event_type,
           m.start AS arg_start, m.surface AS arg_text,
           CASE WHEN m.start < t.tok_ix THEN 'arg0' ELSE 'arg1' END AS role,
           abs(m.start - t.tok_ix) AS adist
    FROM triggers_beam t
    JOIN mentions_arg m
      ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
     AND abs(m.start - t.tok_ix) <= {pred_dist}
),
binp AS (
    SELECT DISTINCT a0.conv_id, a0.arg_text AS arg0, a0.event_type, a1.arg_text AS arg1
    FROM (SELECT * FROM ev WHERE role = 'arg0') a0
    JOIN (SELECT * FROM ev WHERE role = 'arg1') a1
      ON a0.conv_id = a1.conv_id AND a0.turn_idx = a1.turn_idx
     AND a0.trigger_ix = a1.trigger_ix
),
bing AS (
    SELECT DISTINCT a0.conv_id, a0.arg_text AS arg0, a0.event_type, a1.arg_text AS arg1
    FROM (SELECT * FROM ev WHERE role = 'arg0' AND adist <= {gold_dist}) a0
    JOIN (SELECT * FROM ev WHERE role = 'arg1' AND adist <= {gold_dist}) a1
      ON a0.conv_id = a1.conv_id AND a0.turn_idx = a1.turn_idx
     AND a0.trigger_ix = a1.trigger_ix
),
counts AS (
    SELECT
      (SELECT count(*) FROM binp JOIN bing USING (conv_id, arg0, event_type, arg1)) AS tp,
      (SELECT count(*) FROM binp) AS n_p,
      (SELECT count(*) FROM bing) AS n_g
)
SELECT tp, n_p - tp AS fp, n_g - tp AS fn,
       {prec} AS precision, {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


def event_f1_4way_oracle(pred_dist: int = 4, gold_dist: int = 2) -> str:
    """G3 twin (event_metrics.py:25-117): trig_id / trig_class F1 on the
    per-sentence trigger dicts, arg_id / arg_class F1 on the dict-collapsed
    (arg_ix, trigger_label[, role]) entry lists with multiplicity and
    any-match counting; safe_div per f1.py."""

    def sd(num: str, den: str) -> str:
        return (
            f"CASE WHEN ({den}) > 0 THEN CAST({num} AS DOUBLE) / "
            f"CAST({den} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        )

    metric_cols = []
    for axis, tp_c, np_c, ng_c in [
        ("trig_id", "tp_trig_id", "n_pred_trig", "n_gold_trig"),
        ("trig_class", "tp_trig_class", "n_pred_trig", "n_gold_trig"),
        ("arg_id", "tp_arg_id", "n_pred_arg", "n_gold_arg"),
        ("arg_class", "tp_arg_class", "n_pred_arg", "n_gold_arg"),
    ]:
        p, r = sd(tp_c, np_c), sd(tp_c, ng_c)
        f1 = (
            f"CASE WHEN ({p}) + ({r}) > 0 THEN "
            f"(2.0 * ({p}) * ({r})) / (({p}) + ({r})) "
            "ELSE CAST(0.0 AS DOUBLE) END"
        )
        metric_cols += [
            f"{p} AS {axis}_precision",
            f"{r} AS {axis}_recall",
            f"{f1} AS {axis}_f1",
        ]
    metrics = ",\n       ".join(metric_cols)
    return f"""{_EVAL_BASE},
ev AS MATERIALIZED (
    SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
           t.tok_ix AS trigger_ix, 'op_' || t.token AS event_type,
           m.start AS arg_s, m."end" AS arg_e,
           CASE WHEN m.start < t.tok_ix THEN 'arg0' ELSE 'arg1' END AS role,
           abs(m.start - t.tok_ix) AS adist
    FROM triggers_beam t
    JOIN mentions_arg m
      ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
     AND abs(m.start - t.tok_ix) <= {pred_dist}
),
ptrig AS MATERIALIZED (
    SELECT DISTINCT conv_id, turn_idx, trigger_ix, event_type FROM ev
),
gtrig AS MATERIALIZED (
    SELECT DISTINCT conv_id, turn_idx, trigger_ix, event_type FROM ev
    WHERE adist <= {gold_dist}
),
parg AS MATERIALIZED (
    SELECT conv_id, turn_idx, arg_s, arg_e, event_type, role FROM ev
),
garg AS MATERIALIZED (
    SELECT conv_id, turn_idx, arg_s, arg_e, event_type, role FROM ev
    WHERE adist <= {gold_dist}
),
counts AS (
    SELECT
      (SELECT count(*) FROM ptrig) AS n_pred_trig,
      (SELECT count(*) FROM gtrig) AS n_gold_trig,
      (SELECT count(*) FROM ptrig p WHERE EXISTS (
          SELECT 1 FROM gtrig g
          WHERE g.conv_id = p.conv_id AND g.turn_idx = p.turn_idx
            AND g.trigger_ix = p.trigger_ix)) AS tp_trig_id,
      (SELECT count(*) FROM ptrig p WHERE EXISTS (
          SELECT 1 FROM gtrig g
          WHERE g.conv_id = p.conv_id AND g.turn_idx = p.turn_idx
            AND g.trigger_ix = p.trigger_ix
            AND g.event_type = p.event_type)) AS tp_trig_class,
      (SELECT count(*) FROM parg) AS n_pred_arg,
      (SELECT count(*) FROM garg) AS n_gold_arg,
      (SELECT count(*) FROM parg p WHERE EXISTS (
          SELECT 1 FROM garg g
          WHERE g.conv_id = p.conv_id AND g.turn_idx = p.turn_idx
            AND g.arg_s = p.arg_s AND g.arg_e = p.arg_e
            AND g.event_type = p.event_type)) AS tp_arg_id,
      (SELECT count(*) FROM parg p WHERE EXISTS (
          SELECT 1 FROM garg g
          WHERE g.conv_id = p.conv_id AND g.turn_idx = p.turn_idx
            AND g.arg_s = p.arg_s AND g.arg_e = p.arg_e
            AND g.event_type = p.event_type
            AND g.role = p.role)) AS tp_arg_class
)
SELECT CAST(n_pred_trig AS BIGINT) AS n_pred_trig,
       CAST(n_gold_trig AS BIGINT) AS n_gold_trig,
       CAST(tp_trig_id AS BIGINT) AS tp_trig_id,
       CAST(tp_trig_class AS BIGINT) AS tp_trig_class,
       CAST(n_pred_arg AS BIGINT) AS n_pred_arg,
       CAST(n_gold_arg AS BIGINT) AS n_gold_arg,
       CAST(tp_arg_id AS BIGINT) AS tp_arg_id,
       CAST(tp_arg_class AS BIGINT) AS tp_arg_class,
       {metrics}
FROM counts"""


def arg_multiplicity_oracle(pred_dist: int = 4) -> str:
    return f"""{_EVAL_BASE},
ev AS (
    SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
           t.tok_ix AS trigger_ix, m.start AS arg_start, m."end" AS arg_end
    FROM triggers_beam t
    JOIN mentions_arg m
      ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
     AND abs(m.start - t.tok_ix) <= {pred_dist}
),
per_span AS (
    SELECT conv_id, turn_idx, arg_start, arg_end,
           count(DISTINCT trigger_ix) AS nt
    FROM ev GROUP BY 1, 2, 3, 4
)
SELECT CAST(count(*) AS BIGINT) AS n_args,
       CAST(sum(CASE WHEN nt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CASE WHEN nt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(greatest(count(*), 1) AS DOUBLE) AS shared_frac
FROM per_span"""


def greedy_match_oracle(rounds: int = 6) -> str:
    """Twin of kg_eval.greedy_match's iterated local-minima greedy:
    ``rounds`` unrolled SQL rounds (each = accept candidates ranked first
    on BOTH sides, then anti-join out the touched preds/golds). The Spark
    side iterates to an empty candidate set; on the eval corpora that
    fixpoint is reached well inside the unroll depth (extra unrolled
    rounds operate on an empty set and contribute nothing)."""
    sub0 = (
        "(contains(lower(trim(p_arg0)), lower(trim(g_arg0))) "
        "OR contains(lower(trim(g_arg0)), lower(trim(p_arg0))))"
    )
    sub1 = (
        "(contains(lower(trim(p_arg1)), lower(trim(g_arg1))) "
        "OR contains(lower(trim(g_arg1)), lower(trim(p_arg1))))"
    )
    cols = "conv_id, p_arg0, p_arg1, p_label, g_arg0, g_arg1, g_label"
    # MATERIALIZED: each cand{r} is referenced twice (acc{r} and
    # cand{r+1}); inlining would re-evaluate the whole chain per reference
    # — exponential in the unroll depth
    ctes = [
        f"""cand0 AS MATERIALIZED (
    SELECT p.conv_id, p_arg0, p_arg1, p_label, g_arg0, g_arg1, g_label
    FROM p JOIN g ON p.conv_id = g.conv_id AND p_label = g_label
               AND {sub0} AND {sub1}
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""acc{r} AS MATERIALIZED (
    SELECT {cols} FROM (
        SELECT c.*,
               row_number() OVER (PARTITION BY conv_id, p_arg0, p_arg1, p_label
                                  ORDER BY g_arg0, g_arg1, g_label) AS rp,
               row_number() OVER (PARTITION BY conv_id, g_arg0, g_arg1, g_label
                                  ORDER BY p_arg0, p_arg1, p_label) AS rg
        FROM cand{r} c
    ) WHERE rp = 1 AND rg = 1
),
cand{r + 1} AS MATERIALIZED (
    SELECT c.* FROM cand{r} c
    WHERE NOT EXISTS (
        SELECT 1 FROM acc{r} a
        WHERE a.conv_id = c.conv_id AND a.p_arg0 = c.p_arg0
          AND a.p_arg1 = c.p_arg1 AND a.p_label = c.p_label
    )
    AND NOT EXISTS (
        SELECT 1 FROM acc{r} a
        WHERE a.conv_id = c.conv_id AND a.g_arg0 = c.g_arg0
          AND a.g_arg1 = c.g_arg1 AND a.g_label = c.g_label
    )
)"""
        )
    union = " UNION ALL ".join(f"SELECT {cols} FROM acc{r}" for r in range(rounds))
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
p AS (SELECT DISTINCT conv_id, arg0 AS p_arg0, arg1 AS p_arg1, label AS p_label FROM triples),
g AS (SELECT DISTINCT conv_id, arg0 AS g_arg0, arg1 AS g_arg1, label AS g_label FROM gold),
{", ".join(ctes)}
{union}"""


def long_turns_oracle(limit: int = 8) -> str:
    return f"""WITH {TURNS_SQL.strip()} , {TOKENS_SQL.strip()},
lens AS (
    SELECT conv_id, turn_idx, CAST(count(*) AS INT) AS n_tokens
    FROM tokens GROUP BY conv_id, turn_idx
)
SELECT conv_id, turn_idx, n_tokens FROM lens WHERE n_tokens > {limit}"""


def gold_alignment_oracle(max_width: int = 8) -> str:
    return f"""{_BASE},
lens AS (
    SELECT conv_id, turn_idx, count(*) AS n FROM tokens GROUP BY conv_id, turn_idx
),
enumerated AS (
    SELECT l.conv_id, l.turn_idx, s.start,
           unnest(range(s.start, CAST(least(s.start + {max_width}, l.n) AS INT))) AS "end"
    FROM lens l,
         LATERAL (SELECT unnest(range(0, CAST(l.n AS INT))) AS start) s
),
aligned AS (
    SELECT e.conv_id, e.turn_idx, e.start, e."end",
           COALESCE(m.surface, 'O') AS label
    FROM enumerated e
    LEFT JOIN mentions m
      ON m.conv_id = e.conv_id AND m.turn_idx = e.turn_idx
     AND m.start = e.start AND m."end" = e."end"
)
SELECT label, count(*) AS n_spans FROM aligned GROUP BY label"""


def label_confusion_oracle() -> str:
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
p AS (SELECT DISTINCT conv_id, arg0, arg1, label AS pred_label FROM triples),
g AS (SELECT conv_id, arg0, arg1, label AS gold_label FROM gold),
merged AS (
    SELECT COALESCE(g.gold_label, '∅') AS gold_label,
           COALESCE(p.pred_label, '∅') AS pred_label
    FROM p FULL OUTER JOIN g
      ON p.conv_id = g.conv_id AND p.arg0 = g.arg0 AND p.arg1 = g.arg1
)
SELECT gold_label, pred_label, count(*) AS n FROM merged GROUP BY 1, 2"""


def collate_oracle(cost_cap: int = 50_000, max_sents: int = 16, stride: int = 1_000_000_000) -> str:
    order = "n_tokens, conv_id, turn_idx"
    return f"""WITH {TURNS_SQL.strip()},
t AS (
    SELECT conv_id, turn_idx, text,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
             AS n_tokens
    FROM turns
),
c AS (SELECT *, CAST(n_tokens AS BIGINT) * n_tokens AS cost FROM t),
p AS (
    SELECT *,
           row_number() OVER (ORDER BY {order}) AS rn,
           COALESCE(sum(cost) OVER (ORDER BY {order}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM c
),
b AS (SELECT *, cum // {cost_cap} AS b_cost, (rn - 1) // {max_sents} AS b_cnt FROM p)
SELECT conv_id, turn_idx, text, n_tokens, cost,
       CAST(b_cost * {stride} + b_cnt AS BIGINT) AS pseudo_doc_id,
       CAST(row_number() OVER (PARTITION BY b_cost, b_cnt ORDER BY {order}) - 1
            AS INT) AS slot
FROM b"""


def uncollate_oracle() -> str:
    return f"""WITH {TURNS_SQL.strip()}
SELECT conv_id, turn_idx, text FROM turns"""


def check_dense_oracle() -> str:
    return f"""WITH {TURNS_SQL.strip()}
SELECT conv_id, 'non_dense_turn_idx' AS violation FROM (
    SELECT conv_id, count(*) AS n, min(turn_idx) AS mn, max(turn_idx) AS mx,
           count(DISTINCT turn_idx) AS nd
    FROM turns GROUP BY conv_id
) WHERE mn <> 0 OR mx <> n - 1 OR nd <> n"""


def split_disjointness_oracle(modulus: int = 10, train_cut: int = 8) -> str:
    return f"""WITH {TURNS_SQL.strip()},
convs AS (
    SELECT conv_id, CAST(conv_id AS BIGINT) % {modulus} AS b
    FROM (SELECT DISTINCT conv_id FROM turns)
),
tr AS (SELECT conv_id FROM convs WHERE b < {train_cut}),
te AS (SELECT conv_id FROM convs WHERE b >= {train_cut})
SELECT (SELECT count(*) FROM tr) AS n_train,
       (SELECT count(*) FROM te) AS n_test,
       (SELECT count(*) FROM tr JOIN te USING (conv_id)) AS n_overlap"""


def best_label_per_pair_oracle() -> str:
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()}
SELECT conv_id, sent_text, arg0, arg1, label, conf FROM (
    SELECT t.*, row_number() OVER (PARTITION BY conv_id, arg0, arg1
                                   ORDER BY conf DESC, label, sent_text) AS rn
    FROM triples t
) WHERE rn = 1"""


# ---------------------------------------------------------------------------
# prediction-quality ranking + annotator agreement twins
# ---------------------------------------------------------------------------


def _method_preds_ctes() -> str:
    """Shared CTE chain building the three-method prediction frame
    (flagship triples + srlmap + depparse baselines) — the pred side of
    both accept-rate twins."""
    from dygiepp_spark.tables import SRL_STEM_MAP, TRIGGER_VOCAB

    trigs = ", ".join(f"'{t}'" for t in TRIGGER_VOCAB)
    case = "CASE " + " ".join(
        f"WHEN position('{stem}' IN tk.token) > 0 THEN '{label}'"
        for stem, label in SRL_STEM_MAP
    ) + " ELSE NULL END"
    return f"""rep AS (
    SELECT conv_id, turn_idx FROM (
        SELECT conv_id, turn_idx,
               row_number() OVER (
                   PARTITION BY text
                   ORDER BY CAST(conv_id AS BIGINT), turn_idx, conv_id
               ) AS rn
        FROM turns
    ) WHERE rn = 1
),
rment AS MATERIALIZED (
    SELECT m.* FROM mentions m
    JOIN rep r ON m.conv_id = r.conv_id AND m.turn_idx = r.turn_idx
),
rtrig AS (
    SELECT tk.conv_id, tk.turn_idx, tk.tok_ix, {case} AS label
    FROM tokens tk
    JOIN rep r ON tk.conv_id = r.conv_id AND tk.turn_idx = r.turn_idx
    WHERE tk.token IN ({trigs})
),
sides AS (
    SELECT t.conv_id, t.turn_idx, t.tok_ix, t.label,
           min(CASE WHEN m.start < t.tok_ix THEN m.start END) AS l_pos,
           min(CASE WHEN m.start > t.tok_ix THEN m.start END) AS r_pos
    FROM rtrig t
    JOIN rment m ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
    WHERE t.label IS NOT NULL
    GROUP BY 1, 2, 3, 4
),
srlp AS (
    SELECT DISTINCT s.conv_id, ml.surface AS arg0, mr.surface AS arg1
    FROM sides s
    JOIN rment ml ON ml.conv_id = s.conv_id AND ml.turn_idx = s.turn_idx
                 AND ml.start = s.l_pos
    JOIN rment mr ON mr.conv_id = s.conv_id AND mr.turn_idx = s.turn_idx
                 AND mr.start = s.r_pos
),
dtrig AS (SELECT conv_id, turn_idx, tok_ix FROM tokens WHERE token IN ({trigs})),
depp AS (
    SELECT DISTINCT s.conv_id, s.surface AS arg0, o.surface AS arg1
    FROM mentions s
    JOIN dtrig t ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
                AND s.start < t.tok_ix
    JOIN mentions o ON o.conv_id = t.conv_id AND o.turn_idx = t.turn_idx
                   AND o.start > t.tok_ix
),
preds AS (
    SELECT 'dygiepp' AS method, conv_id, arg0, arg1
    FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM triples)
    UNION ALL SELECT 'srlmap', conv_id, arg0, arg1 FROM srlp
    UNION ALL SELECT 'depparse', conv_id, arg0, arg1 FROM depp
)"""


def method_accept_rate_oracle() -> str:
    """Twin of kg_eval.method_accept_rate over the three in-tree methods:
    flagship triples, srlmap baseline, depparse baseline; accept = the
    distinct (conv, arg0, arg1) pair appears in the rule gold."""
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
{_method_preds_ctes()},
gp AS (SELECT DISTINCT conv_id, arg0, arg1 FROM gold)
SELECT p.method, count(*) AS n_samples,
       count(g.conv_id) AS n_accept,
       CAST(count(g.conv_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS accept_rate
FROM preds p
LEFT JOIN gp g ON p.conv_id = g.conv_id AND p.arg0 = g.arg0
              AND p.arg1 = g.arg1
GROUP BY p.method"""


def _stop_filtered_sql(x: str) -> str:
    """kg_eval.stop_filtered twin: lower+trim, split on single space,
    drop stopword tokens, re-join with spaces."""
    from dygiepp_spark.operators.kg_eval import STOPWORDS

    sw = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return (
        f"array_to_string(list_filter(string_split(lower(trim({x})), ' '), "
        f"t -> NOT list_contains({sw}, t)), ' ')"
    )


def accept_rate_filtered_oracle(
    thresh: float = 0.4, consider_reverse: bool = False
) -> str:
    """Twin of kg_eval.method_accept_rate_filtered: accept-by-code =
    jaccard >= thresh on stopword-filtered args vs ANY gold pair of the
    same conv (collapse semantics — no label gate), optional reverse."""
    # strict > — span_matching's comparator (eval_utils.py:218)
    fwd = (
        f"({_jac_sql('p.fa0', 'g.ga0')}) > {thresh} "
        f"AND ({_jac_sql('p.fa1', 'g.ga1')}) > {thresh}"
    )
    cond = f"({fwd})"
    if consider_reverse:
        rev = (
            f"({_jac_sql('p.fa0', 'g.ga1')}) > {thresh} "
            f"AND ({_jac_sql('p.fa1', 'g.ga0')}) > {thresh}"
        )
        cond = f"(({fwd}) OR ({rev}))"
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
{_method_preds_ctes()},
predf AS (
    SELECT method, conv_id, arg0, arg1,
           {_stop_filtered_sql('arg0')} AS fa0,
           {_stop_filtered_sql('arg1')} AS fa1
    FROM preds
),
gf AS (
    SELECT conv_id,
           {_stop_filtered_sql('arg0')} AS ga0,
           {_stop_filtered_sql('arg1')} AS ga1
    FROM (SELECT DISTINCT conv_id, arg0, arg1 FROM gold)
),
matched AS (
    SELECT DISTINCT p.method, p.conv_id, p.arg0, p.arg1
    FROM predf p JOIN gf g ON p.conv_id = g.conv_id AND {cond}
),
gexact AS (SELECT DISTINCT conv_id, arg0, arg1 FROM gold)
SELECT p.method, count(*) AS n_samples,
       count(m.method) AS n_accept,
       CAST(count(m.method) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS accept_rate,
       count(CASE WHEN m.method IS NOT NULL AND e.conv_id IS NOT NULL
                  THEN 1 END) AS n_true_accept,
       count(CASE WHEN m.method IS NOT NULL AND e.conv_id IS NULL
                  THEN 1 END) AS n_false_accept,
       count(CASE WHEN m.method IS NULL AND e.conv_id IS NOT NULL
                  THEN 1 END) AS n_false_reject,
       count(CASE WHEN m.method IS NULL AND e.conv_id IS NULL
                  THEN 1 END) AS n_true_reject
FROM predf p
LEFT JOIN matched m ON p.method = m.method AND p.conv_id = m.conv_id
                   AND p.arg0 = m.arg0 AND p.arg1 = m.arg1
LEFT JOIN gexact e ON p.conv_id = e.conv_id AND p.arg0 = e.arg0
                  AND p.arg1 = e.arg1
GROUP BY p.method"""


def human_eval_sheet_oracle(n_docs: int = 50, cap_per_method: int = 2) -> str:
    """Twin of kg_eval.human_eval_sheet: intersection of the three
    method's doc sets, hash-ranked sample of n_docs, per (doc, method)
    hash-ordered cap, doc text joined on."""
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
{_method_preds_ctes()},
{_sheet_capped_ctes(n_docs, cap_per_method)},
docs AS (
    SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
    FROM turns GROUP BY conv_id
)
SELECT c.method, c.arg0, c.arg1, c.conv_id, d.text,
       CAST(c.pick_ix AS INT) AS pick_ix
FROM capped c JOIN docs d ON c.conv_id = d.conv_id"""


def _sheet_capped_ctes(n_docs: int, cap_per_method: int) -> str:
    """Shared CTE chain producing the sampled + interleave-capped sheet
    rows (twin of kg_eval._sheet_rows)."""
    from dygiepp_spark.functions.hashing import hash60_sql

    hs = hash60_sql("'sheet|' || conv_id")
    hp = hash60_sql("method || '|' || arg0 || '|' || arg1")
    return f"""common AS (
    SELECT conv_id FROM preds
    GROUP BY conv_id HAVING count(DISTINCT method) = 3
),
sampled AS (
    SELECT conv_id FROM (
        SELECT conv_id,
               row_number() OVER (ORDER BY {hs}, conv_id) AS rn
        FROM common
    ) WHERE rn <= {n_docs}
),
capped AS (
    SELECT method, arg0, arg1, conv_id, pick_ix FROM (
        SELECT method, arg0, arg1, conv_id,
               row_number() OVER (
                   PARTITION BY conv_id, method
                   ORDER BY {hp}, arg0, arg1) AS pick_ix
        FROM preds JOIN sampled USING (conv_id)
    ) WHERE pick_ix <= {cap_per_method}
)"""


def _raw_jac_sql(a: str, b: str) -> str:
    """span_score's jaccard (eval_utils.py:174-178,243-245): RAW
    case-sensitive whitespace split, set overlap, one double division."""
    ta = f"list_distinct(list_filter(regexp_split_to_array({a}, '\\s+'), t -> t <> ''))"
    tb = f"list_distinct(list_filter(regexp_split_to_array({b}, '\\s+'), t -> t <> ''))"
    return (
        f"(CAST(len(list_intersect({ta}, {tb})) AS DOUBLE) / "
        f"greatest(CAST(len(list_distinct(list_concat({ta}, {tb}))) "
        f"AS DOUBLE), 1.0))"
    )


def human_eval_scores_oracle(n_docs: int = 50, cap_per_method: int = 2) -> str:
    """Twin of kg_eval.human_eval_scores: the capped sheet rows crossed
    with the same-doc gold pairs, raw jaccard + raw substring per
    argument, keep where some metric scores both arguments nonzero
    (rouge's nonzero-ness = case-insensitive token overlap)."""
    sub = "(contains({a}, {b}) OR contains({b}, {a}))"

    def ci(a: str, b: str) -> str:
        ta = (
            f"list_distinct(list_filter("
            f"regexp_split_to_array(lower({a}), '\\s+'), t -> t <> ''))"
        )
        tb = (
            f"list_distinct(list_filter("
            f"regexp_split_to_array(lower({b}), '\\s+'), t -> t <> ''))"
        )
        return f"(len(list_intersect({ta}, {tb})) > 0)"

    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
{_method_preds_ctes()},
{_sheet_capped_ctes(n_docs, cap_per_method)},
gp AS (
    SELECT DISTINCT conv_id, arg0 AS gold_arg0, arg1 AS gold_arg1 FROM gold
)
SELECT DISTINCT c.method, c.conv_id, g.gold_arg0, g.gold_arg1,
       c.arg0 AS pred_arg0, c.arg1 AS pred_arg1,
       {_raw_jac_sql('g.gold_arg0', 'c.arg0')} AS jac0,
       {_raw_jac_sql('g.gold_arg1', 'c.arg1')} AS jac1,
       CAST({sub.format(a='g.gold_arg0', b='c.arg0')} AS INT) AS sub0,
       CAST({sub.format(a='g.gold_arg1', b='c.arg1')} AS INT) AS sub1
FROM capped c JOIN gp g ON c.conv_id = g.conv_id
WHERE (({ci('g.gold_arg0', 'c.arg0')} AND {ci('g.gold_arg1', 'c.arg1')})
    OR ({sub.format(a='g.gold_arg0', b='c.arg0')}
        AND {sub.format(a='g.gold_arg1', b='c.arg1')}))"""


def grid_best_cell_oracle() -> str:
    """Twin of kg_eval.grid_best_cell: ranked selection over the
    eval_grid twin's output (nested CTE), same total-order tiebreak."""
    return f"""
WITH grid AS (
{eval_grid_oracle()}
),
scored AS (
    SELECT kind, metric, collapse, topk,
           CASE WHEN kind = 'p_at_k' THEN precision ELSE f1 END AS best_score
    FROM grid
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY kind
        ORDER BY best_score DESC, metric ASC,
                 collapse ASC NULLS FIRST, topk ASC NULLS FIRST) AS rn
    FROM scored
)
SELECT kind, metric, collapse, topk, best_score FROM ranked WHERE rn = 1"""


def _jac_sql(a: str, b: str) -> str:
    """Token-set jaccard ratio as one IEEE double division — twin of
    kg_eval.jaccard_ratio (lowered, non-empty single-space tokens,
    distinct)."""
    ta = f"list_distinct(list_filter(string_split(lower({a}), ' '), x -> x <> ''))"
    tb = f"list_distinct(list_filter(string_split(lower({b}), ' '), x -> x <> ''))"
    return (
        f"(CAST(len(list_intersect({ta}, {tb})) AS DOUBLE) / "
        f"greatest(CAST(len(list_distinct(list_concat({ta}, {tb}))) "
        f"AS DOUBLE), 1.0))"
    )


def agreement_report_oracle(
    pred_dists: tuple = (("rule", 6), ("tight", 4)),
    gold_dist: int = 2,
    rounds: int = 6,
) -> str:
    """Twin of kg_eval.agreement_report: the fused greedy 1-1 matching
    unrolled ``rounds`` times with the cell key in every partition, the
    same label-free seen-key bookkeeping, and the 2*matched/common
    accuracy with its 0-guard. Cells and annotators mirror the Spark
    query's grid."""
    from dygiepp_spark.operators.kg_eval import AGREEMENT_CELLS

    sub0 = (
        "(contains(lower(trim(p.arg0)), lower(trim(g.arg0))) "
        "OR contains(lower(trim(g.arg0)), lower(trim(p.arg0))))"
    )
    sub1 = (
        "(contains(lower(trim(p.arg1)), lower(trim(g.arg1))) "
        "OR contains(lower(trim(g.arg1)), lower(trim(p.arg1))))"
    )
    jac0 = _jac_sql("p.arg0", "g.arg0")
    jac1 = _jac_sql("p.arg1", "g.arg1")
    cells_rows = ", ".join(
        f"('{m}', {'true' if c else 'false'}, CAST({t} AS DOUBLE))"
        for (m, c, t) in AGREEMENT_CELLS
    )
    tris = ",\n".join(
        f"""tri_{name} AS (
    SELECT DISTINCT p.conv_id, t.text AS sent_text, p.arg0, p.arg1, p.label
    FROM (SELECT * FROM pairs WHERE dist <= {d}) p
    JOIN turns t ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
)"""
        for name, d in (list(pred_dists) + [("gold", gold_dist)])
    )
    preds_union = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS annotator, * FROM tri_{name}"
        for name, _ in pred_dists
    )
    cell_cols = "annotator, metric, collapse, thresh"
    cols = f"{cell_cols}, conv_id, p_arg0, p_arg1, g_arg0, g_arg1"
    ctes = [
        f"""cand0 AS MATERIALIZED (
    SELECT DISTINCT p.annotator, c.metric, c.collapse, c.thresh,
           p.conv_id, p.arg0 AS p_arg0, p.arg1 AS p_arg1,
           g.arg0 AS g_arg0, g.arg1 AS g_arg1
    FROM preds p
    JOIN tri_gold g ON p.conv_id = g.conv_id
    CROSS JOIN cells c
    WHERE (CASE WHEN c.metric = 'substring' THEN ({sub0} AND {sub1})
           ELSE ({jac0} >= c.thresh AND {jac1} >= c.thresh) END)
      AND (c.collapse OR p.label = g.label)
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""acc{r} AS MATERIALIZED (
    SELECT {cols} FROM (
        SELECT c.*,
               row_number() OVER (
                   PARTITION BY {cell_cols}, conv_id, p_arg0, p_arg1
                   ORDER BY g_arg0, g_arg1) AS rp,
               row_number() OVER (
                   PARTITION BY {cell_cols}, conv_id, g_arg0, g_arg1
                   ORDER BY p_arg0, p_arg1) AS rg
        FROM cand{r} c
    ) WHERE rp = 1 AND rg = 1
),
cand{r + 1} AS MATERIALIZED (
    SELECT c.* FROM cand{r} c
    WHERE NOT EXISTS (
        SELECT 1 FROM acc{r} a
        WHERE a.annotator = c.annotator AND a.metric = c.metric
          AND a.collapse = c.collapse AND a.thresh = c.thresh
          AND a.conv_id = c.conv_id AND a.p_arg0 = c.p_arg0
          AND a.p_arg1 = c.p_arg1
    )
    AND NOT EXISTS (
        SELECT 1 FROM acc{r} a
        WHERE a.annotator = c.annotator AND a.metric = c.metric
          AND a.collapse = c.collapse AND a.thresh = c.thresh
          AND a.conv_id = c.conv_id AND a.g_arg0 = c.g_arg0
          AND a.g_arg1 = c.g_arg1
    )
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT {cols} FROM acc{r}" for r in range(rounds)
    )
    acc_expr = (
        "2.0 * CAST(coalesce(mc.n_matched, 0) AS DOUBLE) "
        "/ CAST(cm.n_common AS DOUBLE)"
    )
    return f"""{_EVAL_BASE},
{tris},
cells(metric, collapse, thresh) AS (VALUES {cells_rows}),
preds AS (
    {preds_union}
),
ann AS (SELECT DISTINCT annotator FROM preds),
ptexts AS (SELECT DISTINCT annotator, sent_text FROM preds),
gtexts AS (SELECT DISTINCT sent_text FROM tri_gold),
gold_common AS (
    SELECT pt.annotator, count(*) AS n
    FROM tri_gold g JOIN ptexts pt ON pt.sent_text = g.sent_text
    GROUP BY pt.annotator
),
pred_common AS (
    SELECT p.annotator, count(*) AS n
    FROM preds p JOIN gtexts g ON g.sent_text = p.sent_text
    GROUP BY p.annotator
),
common AS (
    SELECT a.annotator,
           coalesce(gc.n, 0) + coalesce(pc.n, 0) AS n_common
    FROM ann a
    LEFT JOIN gold_common gc ON gc.annotator = a.annotator
    LEFT JOIN pred_common pc ON pc.annotator = a.annotator
),
{", ".join(ctes)},
matched AS ({union}),
mc AS (
    SELECT {cell_cols}, count(*) AS n_matched
    FROM matched GROUP BY {cell_cols}
),
spine AS (SELECT a.annotator, c.metric, c.collapse, c.thresh
          FROM ann a CROSS JOIN cells c)
SELECT s.annotator, s.metric, s.collapse, s.thresh,
       CAST(coalesce(mc.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(cm.n_common AS BIGINT) AS n_common,
       CASE WHEN cm.n_common > 0 THEN {acc_expr}
            ELSE CAST(0.0 AS DOUBLE) END AS accuracy
FROM spine s
LEFT JOIN mc ON mc.annotator = s.annotator AND mc.metric = s.metric
            AND mc.collapse = s.collapse AND mc.thresh = s.thresh
JOIN common cm ON cm.annotator = s.annotator"""


#: frozen golden event TSV (the reference's event_pred/test-gold.tsv
#: shape): generated ONCE from the tight-knob extractor at sf0.001 and
#: deterministically perturbed (1/3 of rows dropped, 1/7 relabeled), then
#: committed — at query time it is a static file, not the extractor
EVENT_GOLD_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "event_gold.tsv"
)


def ie_eval_event_golden_oracle(
    pred_dist: int = 4, path: str = EVENT_GOLD_FIXTURE
) -> str:
    """K5 twin with the NON-DERIVED gold: pred = the event extractor's
    binary decode (same CTEs as ie_eval_event_oracle), gold = the frozen
    golden TSV read with all_varchar so both engines see strings."""
    prec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE)"
    rec = "CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE)"
    return f"""{_EVAL_BASE},
ev AS (
    SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
           t.tok_ix AS trigger_ix, 'op_' || t.token AS event_type,
           m.start AS arg_start, m.surface AS arg_text,
           CASE WHEN m.start < t.tok_ix THEN 'arg0' ELSE 'arg1' END AS role
    FROM triggers_beam t
    JOIN mentions_arg m
      ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
     AND abs(m.start - t.tok_ix) <= {pred_dist}
),
binp AS (
    SELECT DISTINCT a0.conv_id, a0.arg_text AS arg0, a0.event_type,
           a1.arg_text AS arg1
    FROM (SELECT * FROM ev WHERE role = 'arg0') a0
    JOIN (SELECT * FROM ev WHERE role = 'arg1') a1
      ON a0.conv_id = a1.conv_id AND a0.turn_idx = a1.turn_idx
     AND a0.trigger_ix = a1.trigger_ix
),
bing AS (
    SELECT DISTINCT conv_id, arg0, event_type, arg1
    FROM read_csv('{path}', delim='\t', header=true, all_varchar=true)
),
counts AS (
    SELECT
      (SELECT count(*) FROM binp
       JOIN bing USING (conv_id, arg0, event_type, arg1)) AS tp,
      (SELECT count(*) FROM binp) AS n_p,
      (SELECT count(*) FROM bing) AS n_g
)
SELECT tp, n_p - tp AS fp, n_g - tp AS fn,
       {prec} AS precision, {rec} AS recall,
       {_F1.format(p=prec, r=rec)} AS f1
FROM counts"""


# --------------------------------------------------------------------------
# integer PageRank over the KG edge list (twin of graph.pagerank)
# --------------------------------------------------------------------------

def pagerank_oracle(iterations: int = 3) -> str:
    """Unrolled Lloyd-style iteration: r_{t+1}(v) = 150000 +
    SUM over in-edges of (r_t(u)*85) // (100*outdeg(u)), BIGINT floor
    division on both engines (Spark `div` truncates, operands positive).
    DuckDB SUM(BIGINT) widens to HUGEINT — cast back at every level."""
    head = f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
e AS (
    SELECT DISTINCT subj_id AS src, obj_id AS dst FROM edges
),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    levels = []
    prev = "r0"
    for i in range(1, iterations + 1):
        levels.append(f"""r{i} AS (
    SELECT n.node_id,
           CAST(150000 + COALESCE(s.s, 0) AS BIGINT) AS pr
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node_id,
               SUM((r.pr * 85) // (100 * d.outdeg)) AS s
        FROM e
        JOIN {prev} r ON e.src = r.node_id
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    ) s ON n.node_id = s.node_id
)""")
        prev = f"r{i}"
    return head + ",\n" + ",\n".join(levels) + f"\nSELECT node_id, pr FROM {prev}"


def triangle_counts_oracle() -> str:
    """Twin of graph.triangle_counts: same degree-ordered orientation
    ((deg, id) total order, ties on id), wedge self-join, EXISTS-closed."""
    return f"""{_KG_SYM},
deg AS (
    SELECT v, count(*) AS deg FROM (
        SELECT lo AS v FROM und UNION ALL SELECT hi FROM und
    ) GROUP BY v
),
o AS (
    SELECT CASE WHEN lt THEN lo ELSE hi END AS src,
           CASE WHEN lt THEN hi ELSE lo END AS dst,
           CASE WHEN lt THEN dhi ELSE dlo END AS ddst
    FROM (
        SELECT u.lo, u.hi, dl.deg AS dlo, dh.deg AS dhi,
               (dl.deg < dh.deg OR (dl.deg = dh.deg AND u.lo < u.hi)) AS lt
        FROM und u
        JOIN deg dl ON u.lo = dl.v
        JOIN deg dh ON u.hi = dh.v
    )
),
wdg AS (
    SELECT a.src AS u, a.dst AS wv, b.dst AS ww
    FROM o a JOIN o b ON a.src = b.src
     AND (a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst))
),
tri AS (
    SELECT u, wv, ww FROM wdg
    WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wdg.wv AND o.dst = wdg.ww)
),
corners AS (
    SELECT u AS node_id FROM tri
    UNION ALL SELECT wv FROM tri
    UNION ALL SELECT ww FROM tri
)
SELECT node_id, count(*) AS n_triangles FROM corners GROUP BY node_id"""


def negative_samples_oracle(k: int = 3) -> str:
    """Twin of graph.negative_samples over the linked KG edge list."""
    from dygiepp_spark.functions.hashing import hash60_sql

    h = hash60_sql(
        "CAST(sample_ix AS VARCHAR) || '|' || subj_id || '|' || pred || '|' || obj_id"
    )
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
ents AS (SELECT DISTINCT entity_id FROM entity_dict),
ranked AS (
    SELECT entity_id, row_number() OVER (ORDER BY entity_id) - 1 AS rk
    FROM ents
),
nct AS (SELECT count(*) AS _n FROM ents),
pos AS (SELECT DISTINCT subj_id, pred, obj_id FROM edges),
cand AS (
    SELECT subj_id, pred, obj_id, sample_ix,
           {h} % (SELECT _n FROM nct) AS rk
    FROM pos, UNNEST(generate_series(0, {k - 1})) AS g(sample_ix)
),
neg AS (
    SELECT c.subj_id, c.pred, r.entity_id AS neg_obj,
           CAST(c.sample_ix AS INT) AS sample_ix
    FROM cand c JOIN ranked r ON c.rk = r.rk
)
SELECT n.subj_id, n.pred, n.neg_obj, n.sample_ix
FROM neg n
WHERE NOT EXISTS (
    SELECT 1 FROM pos p
    WHERE p.subj_id = n.subj_id AND p.pred = n.pred AND p.obj_id = n.neg_obj
)"""


def kcore_oracle(k: int = 2) -> str:
    """Twin of graph.kcore_fixpoint: ``KCORE_MAX_ROUNDS`` peel rounds
    unrolled. The Spark form raises unless it converges within that
    bound, and a converged peel is stable, so the last round's survivors
    are its rows."""
    from dygiepp_spark.operators.graph import KCORE_MAX_ROUNDS

    levels = []
    prev = "a0"
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        levels.append(f"""d{i} AS MATERIALIZED (
    SELECT s.lo AS node_id, count(*) AS deg
    FROM sym s
    JOIN {prev} x ON s.lo = x.node_id
    JOIN {prev} y ON s.hi = y.node_id
    GROUP BY s.lo
),
a{i} AS MATERIALIZED (SELECT node_id FROM d{i} WHERE deg >= {k})""")
        prev = f"a{i}"
    return f"""{_KG_SYM},
a0 AS MATERIALIZED (SELECT DISTINCT lo AS node_id FROM sym),
""" + ",\n".join(levels) + f"""
SELECT node_id, deg FROM d{KCORE_MAX_ROUNDS} WHERE deg >= {k}"""


def partitioned_sink_oracle(pred: str = "USED-FOR") -> str:
    """Twin of q_partitioned_sink: one predicate's slice of the edge list
    (the sink/scan round-trip itself has no SQL analog; values must
    survive the parquet layout bit-exactly)."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()}
SELECT subj_id, pred, obj_id, conv_id, turn_idx, conf
FROM edges WHERE pred = '{pred}'"""


def pagerank_weighted_oracle(iterations: int = 3) -> str:
    """Twin of graph.pagerank_weighted (support-weighted contributions,
    per-edge fixed-point share — the overflow-bounded formulation)."""
    head = f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
agg AS (
    SELECT subj_id, pred, obj_id, count(*) AS support
    FROM edges GROUP BY subj_id, pred, obj_id
),
e AS (
    SELECT subj_id AS src, obj_id AS dst, CAST(sum(support) AS BIGINT) AS w
    FROM agg GROUP BY subj_id, obj_id
),
nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
shares AS (
    SELECT e.src, e.dst, CAST((e.w * 1000000) // o.outw AS BIGINT) AS share
    FROM e JOIN outw o ON e.src = o.src
),
r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    levels = []
    prev = "r0"
    for i in range(1, iterations + 1):
        levels.append(f"""r{i} AS (
    SELECT n.node_id,
           CAST(150000 + COALESCE(s.s, 0) AS BIGINT) AS pr
    FROM nodes n LEFT JOIN (
        SELECT es.dst AS node_id,
               SUM((((r.pr * es.share) // 1000000) * 85) // 100) AS s
        FROM shares es
        JOIN {prev} r ON es.src = r.node_id
        GROUP BY es.dst
    ) s ON n.node_id = s.node_id
)""")
        prev = f"r{i}"
    return head + ",\n" + ",\n".join(levels) + f"\nSELECT node_id, pr FROM {prev}"


def lpa_oracle() -> str:
    """Twin of graph.lpa_fixpoint: synchronous min-tie label propagation
    over the undirected linked-KG edge list, unrolled to
    ``LPA_MAX_ROUNDS`` levels — stable labels stay stable, so this equals
    the Spark form whether it stopped early or hit the bound.
    Deterministic: the per-node winner is the (count DESC, label ASC)
    row_number minimum."""
    from dygiepp_spark.operators.graph import LPA_MAX_ROUNDS

    levels = []
    prev = "l0"
    for i in range(1, LPA_MAX_ROUNDS + 1):
        levels.append(f"""l{i} AS MATERIALIZED (
    SELECT p.node_id, COALESCE(nl.new_label, p.label) AS label
    FROM {prev} p LEFT JOIN (
        SELECT node_id, label AS new_label FROM (
            SELECT s.hi AS node_id, r.label, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY s.hi
                       ORDER BY count(*) DESC, r.label ASC) AS rn
            FROM sym s JOIN {prev} r ON s.lo = r.node_id
            GROUP BY s.hi, r.label
        ) WHERE rn = 1
    ) nl ON p.node_id = nl.node_id
)""")
        prev = f"l{i}"
    return f"""{_KG_SYM},
l0 AS MATERIALIZED (SELECT DISTINCT lo AS node_id, lo AS label FROM sym),
""" + ",\n".join(levels) + f"\nSELECT node_id, label FROM {prev}"


def kg_components_oracle() -> str:
    """Twin of graph.kg_components: every node's smallest reachable id by
    the recursive reachability CTE of oracles_data.dedup_groups_oracle,
    an independent formulation of the pointer-doubling loop."""
    return f"""WITH RECURSIVE kg AS MATERIALIZED (
{_KG_SYM}
SELECT lo, hi FROM sym
),
walk AS (
    SELECT DISTINCT lo AS node_id, lo AS r FROM kg
    UNION
    SELECT w.node_id, s.hi AS r FROM walk w JOIN kg s ON s.lo = w.r
)
SELECT node_id, min(r) AS label FROM walk GROUP BY node_id"""


def degree_hist_oracle() -> str:
    """Twin of graph.degree_hist: symmetrized distinct undirected edges,
    degree agg, (deg, count) histogram with the floor-log2 bin."""
    return f"""{_KG_SYM},
deg AS (SELECT lo AS node_id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(length(bin(deg)) - 1 AS BIGINT) AS log2_bin
FROM deg GROUP BY deg"""


def link_prediction_oracle(
    max_center_degree: int = 64, min_common: int = 2
) -> str:
    """Twin of graph.link_prediction over the part-supplier bipartite
    graph (the query's registered domain — the mention KG is complete
    at test scale): wedges through non-hub centers (degree <= cap),
    pair rollup, anti-join vs the edge list, integer CN /
    preferential-attachment / Jaccard-denominator features."""
    return f"""WITH edges AS (
    SELECT 'P:' || CAST(l_partkey AS VARCHAR) AS subj_id,
           'S:' || CAST(l_suppkey AS VARCHAR) AS obj_id
    FROM lineitem
),
{_SYM_CTE.strip()},
deg AS (SELECT lo AS v, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
ctr AS (SELECT v FROM deg WHERE deg <= {max_center_degree}),
cn AS (
    SELECT a.hi AS na, b.hi AS nb, CAST(count(*) AS BIGINT) AS cn
    FROM sym a
    JOIN ctr c ON a.lo = c.v
    JOIN sym b ON a.lo = b.lo AND a.hi < b.hi
    GROUP BY a.hi, b.hi
    HAVING count(*) >= {min_common}
),
nonadj AS (
    SELECT * FROM cn
    WHERE NOT EXISTS (
        SELECT 1 FROM und WHERE und.lo = cn.na AND und.hi = cn.nb
    )
)
SELECT p.na AS node_a, p.nb AS node_b, p.cn,
       da.deg AS deg_a, db.deg AS deg_b,
       da.deg * db.deg AS pref_attach,
       da.deg + db.deg - p.cn AS jaccard_den
FROM nonadj p
JOIN deg da ON p.na = da.v
JOIN deg db ON p.nb = db.v"""


def random_walks_oracle(length: int = 4, walks_per_node: int = 2) -> str:
    """Twin of graph.random_walks over the linked KG: unrolled per-step
    CTEs, next hop = min_by(neighbor, md5(visit:t:walk:neighbor)) — the
    same keyed-hash argmin, bit-identical across engines."""
    head = f"""{_KG_SYM},
w0 AS (
    SELECT n.lo AS node_id, CAST(t.w AS INT) AS walk_id, n.lo AS visit
    FROM (SELECT DISTINCT lo FROM sym) n,
         unnest(generate_series(0, {walks_per_node - 1})) AS t(w)
)"""
    steps = []
    prev = "w0"
    for t in range(1, length + 1):
        steps.append(f"""w{t} AS (
    SELECT f.node_id, f.walk_id,
           min_by(s.hi, md5(f.visit || ':' || '{t}' || ':' ||
                  CAST(f.walk_id AS VARCHAR) || ':' || s.hi)) AS visit
    FROM {prev} f JOIN sym s ON f.visit = s.lo
    GROUP BY f.node_id, f.walk_id
)""")
        prev = f"w{t}"
    selects = "\nUNION ALL\n".join(
        f"SELECT node_id, walk_id, CAST({t} AS BIGINT) AS step, visit FROM w{t}"
        for t in range(length + 1)
    )
    if steps:
        return head + ",\n" + ",\n".join(steps) + "\n" + selects
    return head + "\n" + selects


def walk_skipgrams_oracle(
    length: int = 4, walks_per_node: int = 2, window: int = 2
) -> str:
    """Twin of graph.walk_skipgrams: the random_walks CTE chain, then a
    (node_id, walk_id)-keyed self-join bounded by the step window."""
    base = random_walks_oracle(length=length, walks_per_node=walks_per_node)
    return f"""WITH walks AS (
{base}
)
SELECT a.visit AS center, b.visit AS context,
       CAST(count(*) AS BIGINT) AS n
FROM walks a
JOIN walks b ON a.node_id = b.node_id AND a.walk_id = b.walk_id
 AND a.step <> b.step AND abs(a.step - b.step) <= {window}
GROUP BY 1, 2"""


def calibration_bins_oracle(bins: int = 10) -> str:
    """Twin of kg_eval.calibration_bins: max-conf dedup per triple key,
    left join vs gold keys, floor-binned rollup."""
    return f"""{_EVAL_BASE} , {_TRIPLES_CTE.strip()} , {_GOLD_CTE.strip()},
p AS (
    SELECT conv_id, arg0, arg1, label, max(conf) AS conf
    FROM triples GROUP BY 1, 2, 3, 4
),
g AS (SELECT DISTINCT conv_id, arg0, arg1, label FROM gold),
j AS (
    SELECT p.conf, CASE WHEN g.conv_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM p LEFT JOIN g USING (conv_id, arg0, arg1, label)
)
SELECT least(CAST(floor(conf * {bins}) AS BIGINT),
             CAST({bins - 1} AS BIGINT)) AS bin,
       CAST(count(*) AS BIGINT) AS n_pred,
       CAST(sum(hit) AS BIGINT) AS n_correct,
       CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
FROM j GROUP BY 1"""


def schema_profile_oracle() -> str:
    """Twin of graph.schema_profile: node types joined onto both edge
    endpoints, rolled up per (subj_type, pred, obj_type) signature."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
nodes AS (
    SELECT entity_id, min(type) AS type FROM linked GROUP BY entity_id
)
SELECT s.type AS subj_type, e.pred, o.type AS obj_type,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT e.conv_id) AS BIGINT) AS n_convs
FROM edges e
JOIN nodes s ON e.subj_id = s.entity_id
JOIN nodes o ON e.obj_id = o.entity_id
GROUP BY 1, 2, 3"""


def hot_entities_oracle() -> str:
    """Twin of graph.hot_entities: (entity, conv) counts rolled up to
    the per-entity concentration report."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()},
per_conv AS (
    SELECT entity_id, conv_id, CAST(count(*) AS BIGINT) AS n
    FROM linked GROUP BY 1, 2
),
agg AS (
    SELECT entity_id,
           CAST(sum(n) AS BIGINT) AS n_mentions,
           CAST(count(*) AS BIGINT) AS n_convs,
           CAST(max(n) AS BIGINT) AS top_conv_n
    FROM per_conv GROUP BY 1
)
SELECT entity_id, n_mentions, n_convs, top_conv_n,
       CAST(top_conv_n AS DOUBLE) / CAST(n_mentions AS DOUBLE) AS top_share
FROM agg"""


def entity_pmi_oracle(
    min_count: int = 2, scale: int = 1_000_000,
    max_conv_entities: int = 256,
) -> str:
    """Twin of graph.entity_pmi: presence-based co-occurrence counts,
    capped conversations excluded from pair generation, integer PMI."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()},
presence AS (SELECT DISTINCT conv_id, entity_id FROM linked),
singles AS (
    SELECT entity_id, CAST(count(*) AS BIGINT) AS c
    FROM presence GROUP BY 1
),
small AS (
    SELECT conv_id FROM presence
    GROUP BY conv_id HAVING count(*) <= {max_conv_entities}
),
capped AS (
    SELECT p.conv_id, p.entity_id FROM presence p
    JOIN small s ON p.conv_id = s.conv_id
),
pairs AS (
    SELECT a.entity_id AS e1, b.entity_id AS e2,
           CAST(count(*) AS BIGINT) AS c_ab
    FROM capped a
    JOIN capped b ON a.conv_id = b.conv_id AND a.entity_id < b.entity_id
    GROUP BY 1, 2 HAVING count(*) >= {min_count}
)
SELECT p.e1, p.e2, p.c_ab, sa.c AS c_a, sb.c AS c_b,
       CAST(p.c_ab * {scale} // (sa.c * sb.c) AS BIGINT) AS pmi_q
FROM pairs p
JOIN singles sa ON p.e1 = sa.entity_id
JOIN singles sb ON p.e2 = sb.entity_id"""


def assortativity_oracle() -> str:
    """Twin of graph.assortativity: symmetric edge-end degree pairs,
    exact BIGINT sufficient statistics, one final division."""
    return f"""{_KG_SYM},
deg AS (
    SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT lo AS v FROM und UNION ALL SELECT hi FROM und
    ) GROUP BY v
),
j AS (
    SELECT dl.deg AS dlo, dh.deg AS dhi
    FROM und u
    JOIN deg dl ON u.lo = dl.v
    JOIN deg dh ON u.hi = dh.v
),
ends AS (
    SELECT dlo AS x, dhi AS y FROM j
    UNION ALL SELECT dhi AS x, dlo AS y FROM j
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_ends,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_xx
    FROM ends
)
SELECT n_ends, sum_x, sum_xy, sum_xx,
       CASE WHEN n_ends * sum_xx - sum_x * sum_x <> 0 THEN
           CAST(n_ends * sum_xy - sum_x * sum_x AS DOUBLE)
           / CAST(n_ends * sum_xx - sum_x * sum_x AS DOUBLE)
       END AS r
FROM stats"""


def mention_contexts_oracle(k: int = 3) -> str:
    """Twin of linking.mention_contexts: slices of the non-empty token
    list, tokenizer normalization, space-joined."""
    norm = ("list_transform({sl}, "
            "t -> CASE WHEN t IN ('/.', '/?') THEN substr(t, 2) ELSE t END)")
    toks = "list_filter(string_split(t.text, ' '), x -> x <> '')"
    left = norm.format(sl=f"({toks})[greatest(1, l.start + 1 - {k}):l.start]")
    right = norm.format(sl=f"({toks})[l.start + 2:l.start + 1 + {k}]")
    # array_to_string([]) is NULL in DuckDB but array_join([]) is '' in
    # Spark — coalesce the empty-window case to the Spark value
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()}
SELECT l.conv_id, l.turn_idx, l.start, l.surface, l.entity_id,
       COALESCE(array_to_string({left}, ' '), '') AS left_ctx,
       COALESCE(array_to_string({right}, ' '), '') AS right_ctx
FROM linked l
JOIN turns t ON l.conv_id = t.conv_id AND l.turn_idx = t.turn_idx"""


def predicate_reciprocity_oracle() -> str:
    """Twin of graph.predicate_reciprocity: distinct directed edges,
    reverse-edge semi-join per predicate, exact-integer ratio."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
e AS (
    SELECT DISTINCT subj_id, pred, obj_id FROM edges
    WHERE subj_id <> obj_id
),
rec AS (
    SELECT a.pred, CAST(count(*) AS BIGINT) AS n_recip
    FROM e a
    WHERE EXISTS (
        SELECT 1 FROM e b
        WHERE b.subj_id = a.obj_id AND b.pred = a.pred
          AND b.obj_id = a.subj_id
    )
    GROUP BY a.pred
),
alln AS (
    SELECT pred, CAST(count(*) AS BIGINT) AS n_edges FROM e GROUP BY pred
)
SELECT alln.pred, alln.n_edges,
       COALESCE(rec.n_recip, 0) AS n_recip,
       CAST(COALESCE(rec.n_recip, 0) AS DOUBLE)
           / CAST(alln.n_edges AS DOUBLE) AS reciprocity
FROM alln LEFT JOIN rec ON alln.pred = rec.pred"""


def kg_novelty_oracle() -> str:
    """Twin of graph.kg_novelty: occurrence rollup, distinct-triple
    touch counts, min-conv ownership, exact-integer novelty ratio."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
occ AS (
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM edges GROUP BY 1
),
trip AS (SELECT DISTINCT subj_id, pred, obj_id, conv_id FROM edges),
touched AS (
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_triples
    FROM trip GROUP BY 1
),
owner AS (
    SELECT subj_id, pred, obj_id, min(conv_id) AS conv_id
    FROM trip GROUP BY 1, 2, 3
),
owned AS (
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_owned
    FROM owner GROUP BY 1
)
SELECT o.conv_id, o.n_occurrences, t.n_triples,
       COALESCE(w.n_owned, 0) AS n_owned,
       CAST(COALESCE(w.n_owned, 0) AS DOUBLE)
           / CAST(t.n_triples AS DOUBLE) AS novelty
FROM occ o
JOIN touched t ON o.conv_id = t.conv_id
LEFT JOIN owned w ON o.conv_id = w.conv_id"""


def ntriples_roundtrip_oracle() -> str:
    """Oracle for the N-Triples roundtrip: the distinct (s, p, o) set —
    the serialization and re-parse are the Spark side's extra work,
    like the TSV/CSV roundtrip oracles."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()}
SELECT DISTINCT subj_id, pred, obj_id FROM edges"""


def cluster_size_hist_oracle() -> str:
    """Twin of coref.cluster_size_hist over the shared cluster CTEs."""
    return f"""{_BASE} , {_COREF_CTES.strip()},
per AS (
    SELECT conv_id, cluster_id, CAST(count(*) AS BIGINT) AS size
    FROM clusters GROUP BY 1, 2
)
SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(size * count(*) AS BIGINT) AS n_mentions
FROM per GROUP BY size"""


def edge_confidence_profile_oracle() -> str:
    """Twin of graph.edge_confidence_profile over the edges chain."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
per AS (
    SELECT pred, conf, CAST(count(*) AS BIGINT) AS n_edges
    FROM edges GROUP BY 1, 2
),
tot AS (SELECT pred, CAST(sum(n_edges) AS BIGINT) AS _t FROM per GROUP BY 1)
SELECT p.pred, p.conf, p.n_edges,
       CAST(p.n_edges AS DOUBLE) / CAST(t._t AS DOUBLE) AS share
FROM per p JOIN tot t ON p.pred = t.pred"""


def provenance_integrity_oracle() -> str:
    """Twin of graph.provenance_integrity over the edges chain."""
    return f"""{_BASE} , {ENTITY_DICT_SQL} , {_LINKED_CTE.strip()} , {_PAIRS_RAW_CTE.strip()} , {_EDGES_SQL.strip()},
parsed AS (
    SELECT conv_id, turn_idx,
           string_split(provenance, ':') AS p
    FROM edges
),
checked AS (
    SELECT conv_id, turn_idx,
           (len(p) = 5 AND p[1] = 'extract') AS wf,
           p[2] AS pconv, p[3] AS pturn,
           TRY_CAST(p[4] AS BIGINT) AS s1, TRY_CAST(p[5] AS BIGINT) AS s2
    FROM parsed
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CASE WHEN NOT wf THEN 1 ELSE 0 END) AS BIGINT)
           AS n_malformed,
       CAST(sum(CASE WHEN wf AND NOT (pconv = conv_id
                 AND pturn = CAST(turn_idx AS VARCHAR)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatched,
       CAST(sum(CASE WHEN wf AND NOT (s1 < s2) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_span_violations
FROM checked"""
