"""DyGIE JSONL document scan/sink and the fixture->transcript converter.

Reference format (/root/reference/doc/data.md): one JSON object per line,
``doc_key`` + ``sentences`` (list of token lists) mandatory; optional
parallel lists ``ner``/``relations``/``clusters``/``events`` and their
``predicted_*`` counterparts, all with DOC-LEVEL token offsets. Span
offsets convert to sentence-relative by subtracting ``sentence_start``
(document.py:364-372); sentence_start is the shifted cumsum of sentence
lengths (document.py:113-117).

Conversion rule (FIXTURES.md §2): one sentence = one turn,
conv_id = doc_key, turn_idx = sentence_ix, role alternates
user/assistant, ts = epoch + turn_idx seconds.

The distributed scan (:func:`read_dygie_jsonl`) parses with a pandas UDF
over ``spark.read.text`` — JSON lines with ragged heterogeneous arrays
(e.g. ``[62, 64, "label"]``) defeat ``spark.read.json`` schema inference,
and per-row Python UDFs are banned; mapInPandas keeps parsing vectorized
per Arrow batch.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def sentence_starts(sentences: list[list[str]]) -> list[int]:
    """Shifted cumsum (document.py:113-117)."""
    starts, acc = [], 0
    for s in sentences:
        starts.append(acc)
        acc += len(s)
    return starts


def doc_to_turn_rows(doc: dict) -> list[tuple]:
    """One sentence -> one turn row (no empty-token sentences; the
    reference rejects docs with empty tokens, document.py:158-165)."""
    rows = []
    for ix, toks in enumerate(doc["sentences"]):
        rows.append(
            (
                str(doc["doc_key"]),
                ix,
                "user" if ix % 2 == 0 else "assistant",
                " ".join(toks),
                None,
                None,
            )
        )
    return rows


def doc_predictions(doc: dict, use_predicted: bool = False) -> dict:
    """Build the ReplayScorer input: {(doc_key, sent_ix): {...}} with
    SENTENCE-RELATIVE offsets.

    ``use_predicted=True`` reads ``predicted_ner``/``predicted_relations``/
    ``predicted_events`` (document.py:485-649 predicted variants carry
    [raw, softmax] score suffixes); otherwise the gold fields replay with
    prob 0.99.
    """
    key = str(doc["doc_key"])
    sents = doc["sentences"]
    starts = sentence_starts(sents)
    lens = [len(s) for s in sents]
    prefix = "predicted_" if use_predicted else ""
    out: dict = {}

    def sent_entry(ix):
        return out.setdefault((key, ix), {"ner": [], "relations": [], "events": []})

    for ix, ner_sent in enumerate(doc.get(prefix + "ner", []) or []):
        for r in ner_sent:
            s, e, lab = r[0], r[1], r[2]
            rel_s, rel_e = s - starts[ix], e - starts[ix]
            entry = [rel_s, rel_e, lab]
            if len(r) > 4:
                entry += [float(r[3]), float(r[4])]
            sent_entry(ix)["ner"].append(tuple(entry))
    for ix, rel_sent in enumerate(doc.get(prefix + "relations", []) or []):
        for r in rel_sent:
            s1, e1, s2, e2, lab = r[0], r[1], r[2], r[3], r[4]
            st = starts[ix]
            entry = [s1 - st, e1 - st, s2 - st, e2 - st, lab]
            if len(r) > 6:
                entry += [float(r[5]), float(r[6])]
            sent_entry(ix)["relations"].append(tuple(entry))
    for ix, ev_sent in enumerate(doc.get(prefix + "events", []) or []):
        for ev in ev_sent:
            trig_ix, ev_type = ev[0][0], ev[0][1]
            st = starts[ix]
            args = [
                (a[0] - st, a[1] - st, a[2]) for a in ev[1:]
            ]
            sent_entry(ix)["events"].append(
                {"trigger_ix": trig_ix - st, "event_type": ev_type, "args": args}
            )
    return out


def expected_triples(
    doc: dict, use_predicted: bool = False, max_span_width: int | None = None
) -> set[tuple]:
    """The reference's emitted triple set for one document —
    predict.py:22-42 semantics computed straight from the JSON (the
    pytest oracle for the P/R gate): (doc_key, sent_text, arg0_text,
    arg1_text, label), last-written score wins per key.

    ``max_span_width`` drops relations whose args exceed the enumeration
    cap — the model can only predict enumerated spans (``_too_long``,
    dygie.py:55-56), so gold-replay parity is defined over that domain.
    """
    key = str(doc["doc_key"])
    sents = doc["sentences"]
    starts = sentence_starts(sents)
    prefix = "predicted_" if use_predicted else ""
    triples: dict = {}
    for ix, rel_sent in enumerate(doc.get(prefix + "relations", []) or []):
        sent_text = " ".join(sents[ix])
        st = starts[ix]
        for r in rel_sent:
            s1, e1, s2, e2, lab = r[0] - st, r[1] - st, r[2] - st, r[3] - st, r[4]
            if max_span_width is not None and (
                e1 - s1 + 1 > max_span_width or e2 - s2 + 1 > max_span_width
            ):
                continue
            arg0 = " ".join(sents[ix][s1 : e1 + 1])
            arg1 = " ".join(sents[ix][s2 : e2 + 1])
            triples[(key, sent_text, arg0, arg1, lab)] = (
                float(r[6]) if len(r) > 6 else 0.99
            )
    return set(triples.keys())


def load_jsonl(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def turns_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Driver-side converter for small fixture files."""
    rows = [r for doc in load_jsonl(path) for r in doc_to_turn_rows(doc)]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def read_dygie_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1 distributed scan: JSONL docs -> turn rows via mapInPandas."""
    raw = spark.read.text(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                if not line.strip():
                    continue
                doc = json.loads(line)
                rows.extend(doc_to_turn_rows(doc))
            yield pd.DataFrame(rows, columns=TURN_COLS)

    return raw.mapInPandas(
        parse,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def write_dygie_jsonl(turns: DataFrame, path: str, dataset: str = "transcript") -> None:
    """S2 JSONL sink (``Dataset.to_jsonl``, document.py:88-92 /
    predictor ``dump_line`` dygie/predictors/dygie.py:37-39): reassemble
    turn rows into one DyGIE-format document per conversation
    (``doc_key`` + ``sentences`` token lists) and write JSON lines.

    One aggregation (map-side combinable collect_list) + JVM-side
    ``to_json`` serialization — no Python in the path. Round-trips through
    :func:`read_dygie_jsonl` (tested)."""
    import pyspark.sql.functions as F

    docs = (
        turns.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("_t")
        )
        .select(
            F.to_json(
                F.struct(
                    F.col("conv_id").alias("doc_key"),
                    F.lit(dataset).alias("dataset"),
                    F.transform(
                        F.col("_t"),
                        lambda t: F.filter(
                            F.split(t["text"], " "), lambda x: x != ""
                        ),
                    ).alias("sentences"),
                )
            ).alias("value")
        )
    )
    docs.write.mode("overwrite").text(path)


#: P1 field whitelist (document.py:143-156 ``Document._check_fields``):
#: known annotation fields, their predicted_* counterparts, or
#: underscore-prefixed metadata
ALLOWED_FIELDS = (
    "doc_key",
    "dataset",
    "sentences",
    "weight",
    "ner",
    "relations",
    "clusters",
    "events",
    "sentence_starts",
    "predicted_ner",
    "predicted_relations",
    "predicted_clusters",
    "predicted_events",
)


def check_fields(spark: SparkSession, path: str) -> DataFrame:
    """P1: distributed field-whitelist validation. Returns one row
    (doc_key, bad_field) per unknown non-underscore-prefixed field — empty
    output means the corpus passes the reference's ``_check_fields`` gate
    (document.py:143-156: unknown fields must be ``_``-metadata).
    mapInPandas over the raw lines, same scan shape as read_dygie_jsonl."""
    raw = spark.read.text(path)
    allowed = set(ALLOWED_FIELDS)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                if not line.strip():
                    continue
                doc = json.loads(line)
                key = doc.get("doc_key", "<missing doc_key>")
                for fieldname in doc:
                    if fieldname not in allowed and not fieldname.startswith("_"):
                        rows.append((key, fieldname))
            yield pd.DataFrame(rows, columns=["doc_key", "bad_field"])

    return raw.mapInPandas(scan, "doc_key string, bad_field string")


def write_metadata_csv(docs: DataFrame, path: str) -> None:
    """Derive a CORD-19-style metadata CSV from the documents table (the
    S6 ingest's input shape: header row + ``cord_uid``/``title``/
    ``abstract`` columns, tab-delimited like the reference's split).
    Deterministic: every 37th doc gets an EMPTY abstract so the reader's
    skip rule (preprocess.py:204-207) is exercised on real rows."""
    import pyspark.sql.functions as F

    (
        docs.select(
            F.col("doc_id").cast("string").alias("cord_uid"),
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("title"),
            F.when(F.col("doc_id").cast("bigint") % 37 == 0, F.lit(""))
            .otherwise(F.col("text"))
            .alias("abstract"),
        )
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )


def ingest_metadata_csv(spark: SparkSession, path: str) -> DataFrame:
    """S6 metadata-CSV ingest (preprocess.py:192-224
    ``process_metadata_csv`` + ``process_abstract_metadata_file``): read
    the header-addressed CSV, skip rows with a missing/empty abstract,
    tokenize the abstract (whitespace stand-in for the spaCy sentencizer —
    same documented boundary as the S6 raw-text path) and emit doc rows::

        doc_key = <cord_uid>_abstract, section = 'Abstract'

    plus the token count and the normalized (single-spaced) text. The scan
    is a plain distributed ``spark.read.csv`` with column pruning; the
    tokenize is a narrow array expression — no shuffle anywhere.
    """
    import pyspark.sql.functions as F

    raw = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema("cord_uid string, title string, abstract string")
        .csv(path)
    )
    toks = F.filter(F.split(F.col("abstract"), " "), lambda t: t != "")
    return (
        raw.filter(F.col("abstract").isNotNull() & (F.col("abstract") != ""))
        .select(
            F.concat(F.col("cord_uid"), F.lit("_abstract")).alias("doc_key"),
            F.lit("Abstract").alias("section"),
            F.size(toks).alias("n_tokens"),
            F.array_join(toks, " ").alias("text"),
        )
    )


def write_article_json(docs: DataFrame, path: str) -> None:
    """Derive a CORD-19-style article-JSON corpus (one JSON object per
    line) from the documents table — the S6 ``process_article`` input
    shape (preprocess.py:142-190): ``paper_id``, ``metadata.abstract``,
    ``abstract`` (list of {text} blocks), ``body_text``.

    Deterministic branch triggers so every reference code path is
    exercised on real rows:

    * ``doc_id % 41 == 0`` — ``abstract`` EMPTY, ``metadata.abstract``
      carries the (upper-cased) text -> the metadata fallback path
      (preprocess.py:152-160) must fire, observably (upper-case output);
    * ``doc_id % 43 == 0`` — no abstract anywhere -> skipped (no_abstract);
    * ``doc_id % 47 == 0`` — empty ``body_text`` -> skipped (no_body).
    """
    import pyspark.sql.functions as F

    did = F.col("doc_id").cast("bigint")
    obj = F.to_json(
        F.struct(
            F.col("doc_id").cast("string").alias("paper_id"),
            F.struct(
                F.when(
                    (did % 41 == 0) & (did % 43 != 0), F.upper(F.col("text"))
                ).alias("abstract")
            ).alias("metadata"),
            F.when(
                (did % 41 != 0) & (did % 43 != 0),
                F.array(F.struct(F.col("text").alias("text"))),
            ).otherwise(F.array().cast("array<struct<text:string>>")).alias(
                "abstract"
            ),
            F.when(
                did % 47 != 0,
                F.array(F.struct(F.lit("body").alias("text"))),
            ).otherwise(F.array().cast("array<struct<text:string>>")).alias(
                "body_text"
            ),
        )
    )
    docs.select(obj.alias("value")).write.mode("overwrite").text(path)


def ingest_article_json(spark: SparkSession, path: str) -> DataFrame:
    """S6 article-JSON ingest (preprocess.py:142-190 ``process_article``
    + ``process_abstract``): distributed scan of one-object-per-line
    article JSON; per article — prefer ``abstract`` blocks, fall back to
    ``metadata.abstract``, skip when neither exists (no_abstract) or when
    ``body_text`` is empty (no_body); tokenize the first abstract block
    (whitespace stand-in for the spaCy sentencizer, same documented
    boundary as the CSV path) into::

        doc_key = <paper_id>:abstract, section = 'Abstract'

    Parsing runs in mapInPandas over ``spark.read.text`` (the same
    Arrow-batched pattern as the DyGIE JSONL scan — heterogeneous
    optional fields defeat spark.read.json schema inference).
    """
    raw = spark.read.text(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                if not line.strip():
                    continue
                data = json.loads(line)
                paper_id = data["paper_id"]
                abstract = data.get("abstract") or []
                if abstract:
                    text = abstract[0].get("text", "")
                else:
                    meta = data.get("metadata") or {}
                    text = meta.get("abstract") or ""
                if not text:
                    continue  # no_abstract (preprocess.py:155-157)
                if not data.get("body_text"):
                    continue  # no_body (preprocess.py:166-168)
                toks = [t for t in text.split(" ") if t != ""]
                rows.append(
                    (f"{paper_id}:abstract", "Abstract", len(toks),
                     " ".join(toks))
                )
            yield pd.DataFrame(
                rows, columns=["doc_key", "section", "n_tokens", "text"]
            )

    return raw.mapInPandas(
        parse, "doc_key string, section string, n_tokens int, text string"
    )


def write_triples_tsv(df: DataFrame, path: str) -> None:
    """S3 TSV triple sink (predict.py:36-42 column order)."""
    df.select("conv_id", "sent_text", "arg0", "arg1", "label", "conf").write.mode(
        "overwrite"
    ).option("sep", "\t").csv(path)


def read_triples_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S4 TSV scan (eval_metric.py:79-84 names)."""
    return (
        spark.read.option("sep", "\t")
        .schema(
            "conv_id string, sent_text string, arg0 string, arg1 string, "
            "label string, conf double"
        )
        .csv(path)
    )


def write_triples_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC triple sink — the third sink format next to JSONL/TSV.
    Unlike the text sinks, ORC keeps the double column bit-exact by
    construction (no shortest-round-trip stringification) and gives the
    warehouse layer predicate pushdown + column pruning on read."""
    df.select("conv_id", "sent_text", "arg0", "arg1", "label", "conf").write.mode(
        "overwrite"
    ).orc(path)


def read_triples_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path).select(
        "conv_id", "sent_text", "arg0", "arg1", "label", "conf"
    )


def write_edges_ntriples(edges: DataFrame, path: str) -> None:
    """N-Triples KG export — the interchange format a downstream triple
    store (Jena, Virtuoso, RDFox) loads directly: one canonical
    ``<urn:kg:e/S> <urn:kg:p/P> <urn:kg:e/O> .`` line per distinct
    (subj, pred, obj). The synthetic id vocabulary is URI-safe
    (alnum/colon/underscore); a percent-encoding hook belongs here the
    day ids carry arbitrary bytes.

    One distinct shuffle, then a row-local concat — the text files
    shard with the dataframe's partitioning like every other sink.
    """
    lines = (
        edges.select("subj_id", "pred", "obj_id")
        .distinct()
        .select(
            F.concat(
                F.lit("<urn:kg:e/"), F.col("subj_id"),
                F.lit("> <urn:kg:p/"), F.col("pred"),
                F.lit("> <urn:kg:e/"), F.col("obj_id"),
                F.lit("> ."),
            ).alias("value")
        )
    )
    lines.write.mode("overwrite").text(path)


def read_edges_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """Scan the N-Triples export back to (subj_id, pred, obj_id) — one
    JVM regexp per line. Lines that do not match the urn-triple grammar
    (blank lines, '#' comments — both legal N-Triples — or foreign/
    malformed triples) are REJECTED by an explicit rlike filter rather
    than silently parsed to empty strings; a loader that must account
    for every line should diff counts against ``spark.read.text``."""
    pat = r"^<urn:kg:e/(.*)> <urn:kg:p/(.*)> <urn:kg:e/(.*)> \.$"
    t = spark.read.text(path).filter(F.col("value").rlike(pat))
    return t.select(
        F.regexp_extract("value", pat, 1).alias("subj_id"),
        F.regexp_extract("value", pat, 2).alias("pred"),
        F.regexp_extract("value", pat, 3).alias("obj_id"),
    )
