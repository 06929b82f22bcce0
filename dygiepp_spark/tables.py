"""Data model: schemas, the turns<-documents derivation, and the synthetic
transcript generator.

The engine's input contract (BASELINE.json ``input_hint``) is an Iceberg (or
parquet) table of conversation transcripts::

    turns(conv_id string, turn_idx int, role string, text string,
          tool string, ts timestamp)

One *document* = all turns of one ``conv_id`` ordered by ``turn_idx`` — the
analog of the reference's Document/sentence model
(/root/reference/dygie/data/dataset_readers/document.py:95-141) where
``conv_id`` plays ``doc_key`` and ``turn_idx`` plays ``sentence_ix``.

Two input paths:

* :func:`turns_from_documents` — deterministically derives a transcript table
  from the driver-provided ``documents.parquet`` so that the DuckDB oracle
  can reconstruct the *identical* input via :data:`TURNS_SQL` (same split,
  same empty-token filter — reference rejects empty tokens,
  document.py:158-165 — same grouping).
* :func:`synth_turns` — fully distributed seeded generator with a Zipf-ish
  long-conversation tail, used for skew tests and the throughput benchmark
  (FIXTURES.md §7). Pure DataFrame ops; scales to arbitrary row counts
  without any driver-side loop.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

#: tokens per derived turn when slicing a document into a transcript
TURN_TOKENS = 12

#: closed vocabulary of the synthetic corpus (observed in documents.parquet)
VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the", "dup",
]

#: planted "entity" tokens — the deterministic mention rule (single-token
#: spans whose token is one of these). Analog of the reference's NER surface.
ENTITY_VOCAB = [
    "spark", "customer", "table", "window", "column",
    "vector", "stream", "batch", "row", "line",
]

#: planted "trigger" tokens — single-token event triggers (doc/data.md:59)
TRIGGER_VOCAB = ["join", "merge", "sort", "scan", "filter"]

#: relation label vocabulary; index 0 is the null label's successor space —
#: the null label itself is never emitted (relation.py:152-155 subtracts 1
#: so null -> -1 and only label >= 0 survives).
RELATION_LABELS = ["USED-FOR", "PART-OF", "FEATURE-OF"]

#: event-type per trigger token (deterministic map)
EVENT_TYPES = {
    "join": "op_join",
    "merge": "op_merge",
    "sort": "op_sort",
    "scan": "op_scan",
    "filter": "op_filter",
}

#: K9 SRL verb-frame stem map — the analog of the reference's ``srlmap``
#: (eval_utils.py:55-145): an ORDERED stem -> label table matched by
#: substring with first-match-wins, exactly the reference's dict-iteration
#: semantics (``[(relsv[0], v) for k, v in srlmap.items() if k in
#: relsv[0]]`` then ``triggermatch[0]``). The 'er' entry deliberately
#: shadows 'filt' for the token 'filter' (and would shadow 'merg' if it
#: came first) — the ordering trap is part of the operator's contract.
SRL_STEM_MAP = [
    ("join", "MECHANISM"),
    ("merg", "MECHANISM"),
    ("er", "EFFECT"),
    ("sort", "MECHANISM"),
    ("scan", "EFFECT"),
    ("filt", "MECHANISM"),
]

#: max token-distance between two mentions for the rule-based relation
RELATION_MAX_DIST = 6

#: max token-distance trigger<->argument for the rule-based events
EVENT_ARG_MAX_DIST = 4


# ---------------------------------------------------------------------------
# turns <- documents derivation (Spark side)
# ---------------------------------------------------------------------------

def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def turns_from_documents(
    spark: SparkSession, sf_dir: str, with_ts: bool = True
) -> DataFrame:
    """Derive the transcript table from ``documents.parquet`` — see
    :func:`turns_from_docs_df`."""
    return turns_from_docs_df(load_documents(spark, sf_dir), with_ts)


def turns_from_docs_df(docs: DataFrame, with_ts: bool = True) -> DataFrame:
    """Derive the transcript table from a documents frame (doc_id, text):
    the raw table (:func:`turns_from_documents`) or, in the curated
    production DAG, the filtered/deduped/scrubbed document set.

    conv_id = doc_id; tokens are split on single spaces, empty tokens dropped
    (reference: Dataset.from_jsonl skips docs with "" tokens,
    document.py:71-86 — we drop the tokens, both engines identically), and
    grouped into turns of :data:`TURN_TOKENS` tokens by original position.

    The whole derivation is narrow ops + ONE hash aggregation keyed on
    (conv_id, turn_idx) with map-side partial aggregation; at 100 TB the
    scan parallelism carries it and no skew is possible (turn groups are
    uniformly sized by construction).
    """
    tok = (
        docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
    )
    turn = tok.groupBy(
        "conv_id", (F.col("pos") / TURN_TOKENS).cast("int").alias("turn_idx")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text")
    )
    out = turn.select(
        "conv_id",
        "turn_idx",
        F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
    )
    if with_ts:
        out = out.withColumn(
            "ts",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,turn_idx)"
            ),
        )
    return out


#: DuckDB CTE reproducing turns_from_documents() bit-for-bit (minus ts).
#: Embedded at the head of every oracle query that consumes turns.
TURNS_SQL = f"""
turns AS (
    SELECT conv_id,
           CAST(grp AS INT) AS turn_idx,
           CASE WHEN grp % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           string_agg(token, ' ' ORDER BY pos) AS text,
           CAST(NULL AS VARCHAR) AS tool
    FROM (
        SELECT CAST(doc_id AS VARCHAR) AS conv_id,
               token,
               pos,
               pos // {TURN_TOKENS} AS grp
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS token,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
            FROM documents
        )
        WHERE token <> ''
    )
    GROUP BY conv_id, grp
)
"""


#: DuckDB twin of ``extraction._token_frame``'s token explode (consumes
#: the turns CTE): positions index the non-empty tokens
TOKENS_SQL = """
tokens AS (
    SELECT conv_id,
           turn_idx,
           CAST(pos AS INT) AS tok_ix,
           CASE WHEN tok IN ('/.', '/?') THEN substr(tok, 2) ELSE tok END AS token
    FROM (
        SELECT conv_id, turn_idx,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) - 1 AS pos
        FROM turns
    )
)
"""


# ---------------------------------------------------------------------------
# synthetic transcript generator (bench / skew path)
# ---------------------------------------------------------------------------

def synth_turns(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    min_turns: int = 2,
    max_turns: int = 200,
    tokens_per_turn: int = TURN_TOKENS,
    skew_factor: float = 2.0,
) -> DataFrame:
    """Deterministic synthetic transcripts, fully distributed.

    Conversation lengths follow a truncated power law (Zipf-ish tail): the
    first conversations are the longest — conv 0 gets ``max_turns`` — so any
    naive ``groupBy(conv_id)`` sees genuine key skew, which the doc-assembly
    stage must defuse. Text is drawn from :data:`VOCAB` via a seeded integer
    hash (xxhash64), so the same (seed, ids) always produce the same corpus
    on any cluster size or partition layout.
    """
    v_arr = F.array(*[F.lit(w) for w in VOCAB])
    n_vocab = len(VOCAB)

    convs = spark.range(0, n_convs).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_n"),
        # power-law length: len(i) = max(min_turns, max_turns / (1+i)^a)
        F.greatest(
            F.lit(min_turns),
            (F.lit(max_turns) / F.pow(F.col("id") + 1, F.lit(1.0 / skew_factor)))
            .cast("int"),
        ).alias("n_turns"),
    )
    turns = convs.select(
        "conv_id",
        "conv_n",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    # token t of turn k of conv c: vocab[xxhash64(seed, c, k, t) mod |V|]
    tok_ids = F.transform(
        F.sequence(F.lit(0), F.lit(tokens_per_turn - 1)),
        lambda t: F.pmod(
            F.xxhash64(F.lit(seed), F.col("conv_n"), F.col("turn_idx"), t), F.lit(n_vocab)
        ).cast("int"),
    )
    text = F.array_join(F.transform(tok_ids, lambda i: F.element_at(v_arr, i + 1)), " ")
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        text.alias("text"),
        F.when(
            F.pmod(F.xxhash64(F.lit(seed + 1), F.col("conv_n"), F.col("turn_idx")), F.lit(5)) == 0,
            F.lit("search"),
        ).otherwise(F.lit(None).cast("string")).alias("tool"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,turn_idx)"
        ).alias("ts"),
    )


def _values(rows: list[tuple[str, ...]], cols: str) -> str:
    """``(VALUES ...) AS t(cols)`` over string rows: the same relation in
    Spark SQL (a JVM-local relation: its scans start no Python worker,
    unlike ``createDataFrame(list)``'s pickled RDD) and in DuckDB."""
    vals = ", ".join("(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows)
    return f"(VALUES {vals}) AS t({cols})"


_ENTITY_DICT = _values(
    [(w, f"E{i:03d}", w.upper(), "CONCEPT") for i, w in enumerate(ENTITY_VOCAB)],
    "surface, entity_id, canonical_text, type",
)


def entity_dict(spark: SparkSession) -> DataFrame:
    """The canonical-entity dictionary (broadcast side of entity linking).

    Small static table: surface -> entity_id/canonical_text. Analog of the
    fork's label/trigger maps (eval_utils.py:55-145). At production scale
    this would be an Iceberg dim table; it stays broadcast-joined either way.
    """
    return spark.sql(f"SELECT * FROM {_ENTITY_DICT}")


def _devowel(w: str) -> str:
    return "".join(c for c in w if c not in "aeiou") or w


def _alias_rows() -> list[tuple[str, str]]:
    rows = set()
    for w in ENTITY_VOCAB:
        variants = {w, _devowel(w)}
        rows.update((a, b) for a in variants for b in variants)
    return sorted(rows)


_ALIASES = _values(_alias_rows(), "name, variant")


def alias_pairs(spark: SparkSession) -> DataFrame:
    """Coref/alias dimension for K2 alias-expanded matching
    (eval_utils.py:265-287 ``read_coref_matches``): every entity surface
    is linked to a deterministic shorthand variant (vowels stripped —
    'spark' ~ 'sprk'), both directions plus identities. The reference
    reads these alias groups from the coref model's TSV; here the table is
    derived so both engines reconstruct it identically. Tiny — always
    broadcast."""
    return spark.sql(f"SELECT * FROM {_ALIASES}")


#: DuckDB twin of alias_pairs()
ALIAS_SQL = f"al AS (SELECT * FROM {_ALIASES})"

#: DuckDB twin of entity_dict()
ENTITY_DICT_SQL = f"entity_dict AS (SELECT * FROM {_ENTITY_DICT})"
