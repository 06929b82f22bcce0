"""Structured Streaming wrappers for the extraction pipeline.

The reference is batch-only (SURVEY.md §2.9), but the transcript source is
naturally a stream of turns; the extraction stages split cleanly into:

* **stateless stages** (tokenize, mention/trigger detection — narrow ops
  only): run directly on the stream, any output mode, no state store.
* **per-conversation stages** (beams, pair generation): run via
  ``foreachBatch``, which hands each micro-batch to the full batch
  pipeline (the standard pattern for reusing complex batch logic);
  exactly-once = checkpointed batch ids + an IDEMPOTENT sink (the batch_id
  partition is dynamically overwritten on replay, see :func:`_write_batch`).
* **cross-batch stateful stages** (doc assembly when a conversation's
  turns straddle micro-batches): ``applyInPandasWithState`` keyed on
  conv_id — the state store buffers partial conversations and emits each
  document exactly when its last turn arrives
  (:func:`assemble_conversations_stateful`).

With ``trigger(availableNow=True)`` the same code is a catch-up batch job
— that is how the parity gate runs it (stream results == batch results on
the same input).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dygiepp_spark.operators import extraction as EX

#: schema of the parquet turn stream (ts omitted — the derived test corpus
#: is timeless; a real deployment adds ts + watermark here)
TURNS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
    ]
)


def _source(
    spark: SparkSession, schema: T.StructType | str, input_dir: str,
    max_files_per_trigger: int,
) -> DataFrame:
    """Parquet file-source stream over a drop directory — the replayable
    half of exactly-once: the checkpoint records which files each batch
    read, so a retried batch reads the same rows."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _drain_append(stream: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain ``stream`` into an append-mode parquet sink; availableNow
    returns once the source is caught up. Spark's file sink is itself
    exactly-once (its commit log names each batch's files)."""
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _write_batch(df: DataFrame, batch_id: int, out_dir: str) -> None:
    """The idempotent foreachBatch sink: ``df`` lands in the
    ``batch_id=<batch_id>`` partition of ``out_dir``.

    Exactly-once on replay: a micro-batch retried after a
    write-succeeded/checkpoint-failed crash re-runs with the SAME
    batch_id over the same source files, and dynamic partition overwrite
    replaces exactly that batch's partition — duplicates cannot survive
    (the blind ``mode('append')`` alternative is only at-least-once), and
    other batches' partitions are never touched.
    """
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _drain_batches(
    stream: DataFrame, per_batch: Callable[[DataFrame], DataFrame],
    out_dir: str, checkpoint_dir: str,
) -> None:
    """Drain ``stream`` through foreachBatch: each micro-batch runs the
    batch operator ``per_batch`` and lands in :func:`_write_batch`."""
    (
        stream.writeStream.foreachBatch(
            lambda df, batch_id: _write_batch(per_batch(df), batch_id, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_turns(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of turn rows (parquet drop directory)."""
    return _source(spark, TURNS_STREAM_SCHEMA, input_dir, max_files_per_trigger)


def run_mentions_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain the input directory through stateless mention detection
    (narrow ops only: no state store or watermark) into a parquet sink."""
    _drain_append(
        EX.detect_mentions(stream_turns(spark, input_dir)), out_dir, checkpoint_dir
    )


def run_triples_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> None:
    """Micro-batch triple extraction via foreachBatch: each batch runs the
    FULL batch pipeline (beams + pair join + dedup) into the idempotent
    batch_id-partitioned sink (:func:`_write_batch`).

    Per-batch dedup scope: triples are deduped within a micro-batch (the
    reference's per-document dict semantics — a conversation's turns
    arrive together in the transcript feed); cross-batch dedup, when
    conversations straddle batches, is the downstream aggregate_edges
    rollup or the stateful assembly path.
    """
    _drain_batches(
        stream_turns(spark, input_dir, max_files_per_trigger),
        EX.emit_triples, out_dir, checkpoint_dir,
    )


# --------------------------------------------------------------------------
# event-time windowed aggregation with a watermark (late data)
# --------------------------------------------------------------------------

#: turn stream schema WITH the event-time column
TURNS_TS_SCHEMA = T.StructType(
    TURNS_STREAM_SCHEMA.fields + [T.StructField("ts", T.TimestampType(), True)]
)


def windowed_mention_counts(
    turns_stream: DataFrame, window_sec: int = 60, watermark_sec: int = 120
) -> DataFrame:
    """Event-time tumbling-window mention counts with a watermark — the
    canonical streaming rollup for late-arriving transcript turns.

    The watermark is attached to the TURN stream (before any filtering),
    so every arriving turn advances event time; mention detection and the
    per-(window, surface) count run downstream. Append mode emits a window
    only once the watermark passes its end; rows later than
    ``watermark_sec`` behind the max seen event time are dropped by the
    state store — the documented at-most-late bound.
    """
    marked = turns_stream.withWatermark("ts", f"{watermark_sec} seconds")
    toks = marked.select(
        "ts", F.explode(EX.entity_positions(F.col("text"))).alias("m")
    ).select("ts", F.col("m.tok").alias("token"))
    return (
        toks.groupBy(
            F.window("ts", f"{window_sec} seconds").alias("w"), "token"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("token").alias("surface"),
            "n",
        )
    )


def run_windowed_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    horizon_ts: str = "2024-06-01 00:00:00", window_sec: int = 60,
    watermark_sec: int = 120, sentinel_dir: str | None = None,
) -> None:
    """Drain the turn drop dir through the windowed rollup, then advance
    the watermark past every real window with one far-future sentinel turn
    (no mention tokens, so it adds no counts) and drain again — append
    mode otherwise withholds the trailing open windows forever on a
    bounded corpus. Two availableNow runs over one checkpoint.

    The sentinel is delivered through a SIDE directory (default:
    ``<checkpoint_dir>_sentinel``) that is unioned with the input stream
    at read time — the operator never writes into ``input_dir``. A real
    deployment cannot write to its source, and a shared drop directory
    must not accumulate sentinels across drains; the input dir is
    byte-identical before and after this call."""
    import os

    if sentinel_dir is None:
        sentinel_dir = f"{checkpoint_dir.rstrip('/')}_sentinel"
    os.makedirs(sentinel_dir, exist_ok=True)

    def drain():
        turns = _source(spark, TURNS_TS_SCHEMA, input_dir, 4).unionByName(
            _source(spark, TURNS_TS_SCHEMA, sentinel_dir, 4)
        )
        _drain_append(
            windowed_mention_counts(turns, window_sec, watermark_sec),
            out_dir, checkpoint_dir,
        )

    drain()
    sentinel = spark.createDataFrame(
        [("__horizon__", 0, "system", "eof", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit(horizon_ts).cast("timestamp"))
    sentinel.coalesce(1).write.mode("append").parquet(sentinel_dir)
    drain()


# --------------------------------------------------------------------------
# stateful doc assembly (conversations straddling micro-batches)
# --------------------------------------------------------------------------

#: stream schema for the stateful assembly path: each turn row additionally
#: carries the conversation's total turn count (known at transcript-export
#: time), which is the deterministic emission trigger
TURNS_TOTALS_SCHEMA = T.StructType(
    TURNS_STREAM_SCHEMA.fields
    + [T.StructField("n_turns", T.IntegerType(), True)]
)

_ASSEMBLY_STATE_SCHEMA = "idxs array<int>, texts array<string>, total int"
_ASSEMBLY_OUT_SCHEMA = "conv_id string, n_turns int, doc_text string"


def with_turn_totals(turns: DataFrame) -> DataFrame:
    """Attach the per-conversation total turn count (batch helper for
    producing the stream input). One map-side-combinable aggregate +
    broadcast-friendly join back."""
    totals = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns")
    )
    return turns.join(totals, "conv_id")


def assemble_conversations_stateful(turns_stream: DataFrame) -> DataFrame:
    """A2 doc assembly as a stateful streaming operator
    (``applyInPandasWithState`` keyed on conv_id).

    The state store buffers (turn_idx, text) per conversation across
    micro-batches; when the buffered count reaches the row-carried
    ``n_turns`` total, the assembled document (turns joined in turn_idx
    order — identical to the batch ``assemble_documents``) is emitted ONCE
    and the state dropped. Conversations split across micro-batches are
    therefore assembled correctly, closing the cross-batch gap of the pure
    foreachBatch path. No timeout: the corpus contract is that every
    conversation's turns eventually arrive; a production deployment adds
    ``ProcessingTimeTimeout`` to flush stragglers.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            idxs, texts, total = state.get
            idxs, texts = list(idxs), list(texts)
        else:
            idxs, texts, total = [], [], None
        for pdf in pdfs:
            idxs.extend(int(i) for i in pdf["turn_idx"])
            texts.extend(pdf["text"])
            if total is None and len(pdf) > 0:
                total = int(pdf["n_turns"].iloc[0])
        if total is not None and len(idxs) >= total:
            order = sorted(range(len(idxs)), key=lambda i: idxs[i])
            doc = " ".join(texts[i] for i in order)
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "n_turns": [total], "doc_text": [doc]}
            )
        else:
            state.update((idxs, texts, total))

    return turns_stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_ASSEMBLY_OUT_SCHEMA,
        stateStructType=_ASSEMBLY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_assembly_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a (turns + n_turns) parquet drop directory through the
    stateful assembly into a parquet sink. ``max_files_per_trigger=1``
    forces one input file per micro-batch, so multi-file conversations
    genuinely cross batch boundaries (the condition under test)."""
    src = _source(spark, TURNS_TOTALS_SCHEMA, input_dir, max_files_per_trigger)
    _drain_append(assemble_conversations_stateful(src), out_dir, checkpoint_dir)


# --------------------------------------------------------------------------
# stateful streaming exact-dedup (ingestion-time dedup across micro-batches)
# --------------------------------------------------------------------------

#: doc stream rows for the dedup path: normalized-text hash + id + the
#: per-hash group total (known at export time, like n_turns above)
DOCS_HASH_SCHEMA = T.StructType(
    [
        T.StructField("text_hash", T.StringType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_total", T.LongType(), True),
    ]
)

_DEDUP_STATE_SCHEMA = "canonical_id bigint, n bigint, total bigint"
_DEDUP_OUT_SCHEMA = "text_hash string, canonical_id bigint, n_dups bigint"


def with_hash_totals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Batch helper producing the dedup stream input: md5(normalized text)
    + the per-hash duplicate-group size (the deterministic emission
    trigger, mirroring ``with_turn_totals``)."""
    from dygiepp_spark.operators.dedup import _norm_text

    h = F.md5(_norm_text(F.col(text_col)))
    hashed = docs.select(
        h.alias("text_hash"), F.col("doc_id").cast("bigint").alias("doc_id")
    )
    totals = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    return hashed.join(totals, "text_hash")


def dedup_stream_stateful(doc_stream: DataFrame) -> DataFrame:
    """Exact dedup as a stateful streaming operator: the ingestion-time
    form of ``dedup.exact_dedup_groups``. State per text_hash buffers
    (running min doc_id, seen count); when the count reaches the
    row-carried group total, ONE (text_hash, canonical_id, n_dups) row is
    emitted and the state dropped — so duplicate groups straddling
    micro-batches dedup exactly like the batch aggregation (the parity
    oracle IS the batch dedup SQL). State is O(1) per distinct document
    regardless of arrival order or batch split. No timeout for the same
    corpus-contract reason as :func:`assemble_conversations_stateful`;
    production adds ProcessingTimeTimeout to flush never-completing
    groups."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (text_hash,) = key
        if state.exists:
            canonical, n, total = state.get
        else:
            canonical, n, total = None, 0, None
        for pdf in pdfs:
            for did, tot in zip(pdf["doc_id"], pdf["n_total"]):
                did = int(did)
                canonical = did if canonical is None else min(canonical, did)
                n += 1
                if total is None:
                    total = int(tot)
        if total is not None and n >= total:
            state.remove()
            yield pd.DataFrame(
                {
                    "text_hash": [text_hash],
                    "canonical_id": [canonical],
                    "n_dups": [n],
                }
            )
        else:
            state.update((canonical, n, total))

    return doc_stream.groupBy("text_hash").applyInPandasWithState(
        fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_dedup_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a (text_hash, doc_id, n_total) parquet drop directory through
    the stateful dedup into a parquet sink."""
    src = _source(spark, DOCS_HASH_SCHEMA, input_dir, max_files_per_trigger)
    _drain_append(dedup_stream_stateful(src), out_dir, checkpoint_dir)


# --------------------------------------------------------------------------
# streaming corpus curation (composite quality filter over a doc stream)
# --------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def run_quality_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> None:
    """Curation-at-ingestion: the Gopher/C4 composite filter
    (functions.text.composite_filter) over a document drop directory via
    foreachBatch, with the idempotent batch_id-partitioned sink.

    The filter is strictly per-document (its only aggregation, the 2-gram
    mode, is keyed on doc_id, and one stream row carries one whole doc),
    so the union of per-batch outputs equals the batch operator's output
    exactly — the `quality_filter` SQL oracle checks the drained stream
    verbatim.
    """
    from dygiepp_spark.functions.text import composite_filter

    _drain_batches(
        _source(spark, DOCS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        composite_filter, out_dir, checkpoint_dir,
    )


# --------------------------------------------------------------------------
# stream-static as-of enrichment (temporal join at ingestion time)
# --------------------------------------------------------------------------

def run_asof_stream(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    payload_cols: list[str],
    on: list[str] = ("ukey",),
    left_ts: str = "ts_sec",
    right_ts: str = "ets",
    max_files_per_trigger: int = 8,
) -> None:
    """Enrich a turn stream with the most recent event at-or-before each
    turn (stream-STATIC as-of): every micro-batch runs the batch
    temporal.asof_join against the static events dimension, landing in
    the idempotent batch_id-partitioned sink.

    Correctness under any batching: each output row depends only on its
    own left row and the static side, so the drained union equals the
    batch operator row-for-row regardless of how the stream is split —
    the same argument as the quality-at-ingestion stream, checked against
    the same SQL oracle as the batch as-of query. (A stream-STREAM as-of
    would instead need the state-store formulation — keep the static dim
    in a broadcast-refreshed table and this shape covers the standing
    production case: enriching live transcripts against slowly-changing
    reference data.)
    """
    from dygiepp_spark.operators.temporal import asof_join

    _drain_batches(
        _source(spark, input_schema, input_dir, max_files_per_trigger),
        lambda df: asof_join(
            df, events, list(on), left_ts, right_ts, payload_cols
        ),
        out_dir, checkpoint_dir,
    )


# --------------------------------------------------------------------------
# stateful streaming sessionization (cross-batch gap detection)
# --------------------------------------------------------------------------

SESS_IN_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("ts_sec", T.LongType(), True),
        T.StructField("n_turns", T.IntegerType(), True),
    ]
)
_SESS_STATE_SCHEMA = "idxs array<int>, tss array<bigint>, total int"
_SESS_OUT_SCHEMA = (
    "conv_id string, session_ix int, n_turns bigint, first_turn int, "
    "last_turn int, duration_sec bigint"
)


def sessionize_stateful(turns_stream: DataFrame, gap_sec: int = 30) -> DataFrame:
    """Gap-threshold sessionization as a stateful streaming operator
    (``applyInPandasWithState`` keyed on conv_id) — the canonical
    state-store example, with the same deterministic-emission contract as
    the stateful assembly: a late turn can SPLIT or MERGE sessions, so
    per-conversation session rollups are only final once all of the
    conversation's turns arrived. Turns buffer in the state store across
    micro-batches; when the buffered count reaches the row-carried
    ``n_turns`` total, sessions are cut exactly like the batch
    ``sessionize`` (order by (ts_sec, turn_idx), gap > gap_sec starts a
    session) and the ``session_stats`` rollup is emitted once, state
    dropped. Output is therefore row-identical to the batch path no
    matter how turns split across batches — checked against the same SQL
    oracle as the batch `sessions` query.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            idxs, tss, total = state.get
            idxs, tss = list(idxs), list(tss)
        else:
            idxs, tss, total = [], [], None
        for pdf in pdfs:
            idxs.extend(int(i) for i in pdf["turn_idx"])
            tss.extend(int(t) for t in pdf["ts_sec"])
            if total is None and len(pdf) > 0:
                total = int(pdf["n_turns"].iloc[0])
        if total is not None and len(idxs) >= total:
            order = sorted(range(len(idxs)), key=lambda i: (tss[i], idxs[i]))
            rows = []
            six = 0
            cur: list[int] = []
            for pos, i in enumerate(order):
                if pos > 0 and tss[i] - tss[order[pos - 1]] > gap_sec:
                    rows.append((six, cur))
                    six += 1
                    cur = []
                cur.append(i)
            rows.append((six, cur))
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id] * len(rows),
                    "session_ix": [s for s, _ in rows],
                    "n_turns": [len(m) for _, m in rows],
                    "first_turn": [min(idxs[i] for i in m) for _, m in rows],
                    "last_turn": [max(idxs[i] for i in m) for _, m in rows],
                    "duration_sec": [
                        max(tss[i] for i in m) - min(tss[i] for i in m)
                        for _, m in rows
                    ],
                }
            )
        else:
            state.update((idxs, tss, total))

    return turns_stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_session_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    gap_sec: int = 30, max_files_per_trigger: int = 2,
) -> None:
    src = _source(spark, SESS_IN_SCHEMA, input_dir, max_files_per_trigger)
    _drain_append(sessionize_stateful(src, gap_sec=gap_sec), out_dir, checkpoint_dir)


def run_kg_agg_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    entity_dict: DataFrame, max_files_per_trigger: int = 8,
) -> None:
    """Streaming KG materialization — the north-star loop in micro-batch
    form: each batch runs ``graph.build_edges`` (row-local pair
    generation from each turn's entity positions, then two broadcast
    dictionary lookups: no self-join, no shuffle) -> edge rollup, and
    lands PER-BATCH PARTIAL aggregates
    (support / max_conf / n_convs per (subj, pred, obj)) in an idempotent
    batch_id-partitioned sink. This is the merge-on-read shape an Iceberg
    edge table takes under streaming upsert: writers append mergeable
    partials, readers (or a compaction job) fold them — see
    ``merge_kg_partials`` for the read-side fold.

    The partials are exactly mergeable when no conversation straddles a
    micro-batch (the feed is conv-partitioned, as in run_triples_stream):
    support and n_convs then ADD across batches and max_conf MAXes —
    sum/sum/max is the whole compaction.
    """
    from dygiepp_spark.operators import graph as GR

    _drain_batches(
        stream_turns(spark, input_dir, max_files_per_trigger),
        lambda df: GR.aggregate_edges(GR.build_edges(df, entity_dict)),
        out_dir, checkpoint_dir,
    )


def merge_kg_partials(partials: DataFrame) -> DataFrame:
    """Fold the per-batch KG edge partials into the final edge rollup —
    the read-side / compaction half of the streaming-upsert contract.
    Equals the batch ``aggregate_edges`` output when the feed was
    conv-partitioned (one map-side-combinable agg)."""
    return partials.groupBy("subj_id", "pred", "obj_id").agg(
        F.sum("support").alias("support"),
        F.max("max_conf").alias("max_conf"),
        F.sum("n_convs").alias("n_convs"),
    )


def run_tool_usage_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> None:
    """Streaming agent-analytics rollup: each micro-batch lands PER-BATCH
    PARTIAL tool-usage aggregates (n_calls / n_convs / turn-index sum per
    tool) in the idempotent batch_id-partitioned sink
    (:func:`_write_batch`); ``merge_tool_usage_partials`` is the read-side
    fold. Partials merge exactly when no conversation straddles a
    micro-batch (conv-partitioned feed): counts and sums ADD. The mean
    is NOT carried in the partials — only the (sum, count) pair, the
    standard mergeable form — so the fold's single division is exact-
    integer and bit-portable.
    """
    from dygiepp_spark.operators import transcript as TR

    def partial(df: DataFrame) -> DataFrame:
        calls = TR.with_synthetic_tools(df).filter(F.col("tool").isNotNull())
        return calls.groupBy("tool").agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.sum(F.col("turn_idx").cast("bigint")).alias("sum_turn"),
        )

    _drain_batches(
        stream_turns(spark, input_dir, max_files_per_trigger),
        partial, out_dir, checkpoint_dir,
    )


def merge_tool_usage_partials(partials: DataFrame) -> DataFrame:
    """Fold per-batch tool-usage partials into the final report — equals
    batch ``tool_usage`` when the feed was conv-partitioned."""
    return (
        partials.groupBy("tool")
        .agg(
            F.sum("n_calls").alias("n_calls"),
            F.sum("n_convs").alias("n_convs"),
            F.sum("sum_turn").alias("sum_turn"),
        )
        .select(
            "tool", "n_calls", "n_convs",
            (
                F.col("sum_turn").cast("double")
                / F.col("n_calls").cast("double")
            ).alias("mean_turn_idx"),
        )
    )


def run_length_counts_stream(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> None:
    """Streaming EXACT quantile state: each micro-batch lands per-batch
    (n_tok, cnt) PARTIAL counts — the integer-domain sufficient
    statistic behind functions.text.length_quantiles — in the idempotent
    batch_id-partitioned sink (:func:`_write_batch`). Counts over a small
    value domain are the textbook mergeable summary: the fold is one
    SUM per length, after which the EXACT quantile read costs a window
    over distinct lengths only. This is how a 100 TB pipeline keeps a
    live, exact length distribution without ever sorting the corpus or
    accepting sketch error.
    """
    from dygiepp_spark.functions.text import tokens_col

    _drain_batches(
        _source(spark, DOCS_STREAM_SCHEMA, input_dir, max_files_per_trigger),
        lambda df: df.groupBy(
            F.size(tokens_col(F.col("text"))).alias("n_tok")
        ).agg(F.count(F.lit(1)).alias("cnt")),
        out_dir, checkpoint_dir,
    )


def quantiles_from_length_partials(
    partials: DataFrame, qs: tuple[float, ...] = (0.0, 0.25, 0.5, 0.75, 1.0)
) -> DataFrame:
    """Fold per-batch (n_tok, cnt) partials and read exact quantiles —
    identical semantics (lower-rank convention) to the batch
    length_quantiles, so the same SQL oracle checks the drained
    stream."""
    from pyspark.sql import Window

    counts = partials.groupBy("n_tok").agg(F.sum("cnt").alias("cnt"))
    w = Window.orderBy("n_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    total = counts.agg(F.sum("cnt").alias("_n"))
    spark = partials.sparkSession
    targets = cum.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(
            spark.createDataFrame([(q,) for q in qs], "q double")
        )
    )
    hit = targets.filter(
        F.col("cum") >= F.floor(F.col("q") * (F.col("_n") - 1)) + 1
    )
    return hit.groupBy("q").agg(F.min("n_tok").alias("n_tok"))
