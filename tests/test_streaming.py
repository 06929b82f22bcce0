"""Streaming wrapper tests: the foreachBatch triple stream equals the
batch pipeline when a conversation's turns arrive within one micro-batch,
checkpointing makes re-drains idempotent (no reprocessing), and a
replayed batch overwrites only its own sink partition."""

from __future__ import annotations

import pyspark.sql.functions as F

from dygiepp_spark import tables as TT
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.streaming import stream as ST


def test_triples_stream_equals_batch(spark, sf_dir, tmp_path):
    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # one file -> one micro-batch -> per-batch pipeline == batch pipeline
    turns.coalesce(1).write.mode("overwrite").parquet(in_dir)
    ST.run_triples_stream(spark, in_dir, out_dir, ckpt)

    got = spark.read.parquet(out_dir).drop("batch_id")
    want = EX.emit_triples(turns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_triples_stream_checkpoint_idempotent(spark, sf_dir, tmp_path):
    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns.coalesce(1).write.mode("overwrite").parquet(in_dir)
    ST.run_triples_stream(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    # second drain with the same checkpoint: no new files, no duplicates
    ST.run_triples_stream(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n1


def test_write_batch_replay_overwrites_only_its_partition(spark, tmp_path):
    """The foreachBatch sink contract: re-writing a batch_id (a replayed
    micro-batch) replaces that batch's rows, and a new batch_id adds a
    partition beside it."""
    out_dir = str(tmp_path / "out")

    def sink():
        return sorted(
            (r["batch_id"], r["x"]) for r in spark.read.parquet(out_dir).collect()
        )

    ST._write_batch(spark.createDataFrame([(1,), (2,)], "x int"), 0, out_dir)
    ST._write_batch(spark.createDataFrame([(3,)], "x int"), 0, out_dir)
    assert sink() == [(0, 3)]
    ST._write_batch(spark.createDataFrame([(4,)], "x int"), 1, out_dir)
    assert sink() == [(0, 3), (1, 4)]


# --------------------------------------------------------------------------
# stateful assembly (round 2)
# --------------------------------------------------------------------------

def _turn_rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "n_turns int",
    )


def test_stateful_assembly_conversation_across_batches(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "ckpt")
    )
    # one conversation split across TWO files -> two micro-batches at
    # maxFilesPerTrigger=1; turn order deliberately scrambled
    _turn_rows(
        spark, [("c1", 2, "u", "gamma", None, 3), ("c1", 0, "u", "alpha", None, 3)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    _turn_rows(
        spark, [("c1", 1, "a", "beta", None, 3)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_assembly_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=1)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    assert rows[0]["doc_text"] == "alpha beta gamma"
    assert rows[0]["n_turns"] == 3


def test_stateful_assembly_incremental_drains(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "ckpt")
    )
    # drain 1: only a partial conversation arrives -> nothing emitted,
    # state persisted in the checkpoint
    _turn_rows(
        spark, [("c9", 0, "u", "first", None, 2)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_assembly_stream(spark, in_dir, out_dir, ckpt)
    import glob

    files = glob.glob(f"{out_dir}/**/*.parquet", recursive=True)
    assert not files or spark.read.parquet(out_dir).count() == 0
    # drain 2: the rest arrives in a NEW query run restoring the state
    _turn_rows(
        spark, [("c9", 1, "a", "second", None, 2)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_assembly_stream(spark, in_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1 and rows[0]["doc_text"] == "first second"


def test_stateful_assembly_equals_batch(spark, sf_dir, tmp_path):
    from dygiepp_spark.operators import doc_assembly as DA

    turns = TT.turns_from_documents(spark, sf_dir, with_ts=True).filter(
        F.col("conv_id").cast("int") < 80
    )
    in_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "ckpt")
    )
    ST.with_turn_totals(turns).repartition(6).write.mode("overwrite").parquet(in_dir)
    ST.run_assembly_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=2)
    got = spark.read.parquet(out_dir).select("conv_id", "n_turns", "doc_text")
    want = DA.assemble_documents(turns).select("conv_id", "n_turns", "doc_text")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_windowed_watermark_drops_late_rows(spark, tmp_path):
    import pyspark.sql.functions as F  # noqa: F811

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    def turn(conv, idx, text, ts):
        return spark.createDataFrame(
            [(conv, idx, "u", text, None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn("ts", F.lit(ts).cast("timestamp"))

    # batch 1: one mention in the 00:00 window, plus a row far ahead that
    # advances the watermark (2-min delay) beyond the 00:00 window's end
    def snapshot(d):
        import os

        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    turn("c1", 0, "spark", "2024-01-01 00:00:10").unionByName(
        turn("c2", 0, "beta", "2024-01-01 00:10:00")
    ).coalesce(1).write.mode("append").parquet(in_dir)
    before = snapshot(in_dir)
    ST.run_windowed_stream(spark, in_dir, out_dir, ckpt)
    # the operator must NOT write into its source directory (the sentinel
    # goes to a side dir): input is byte-identical after the run
    assert snapshot(in_dir) == before

    # batch 2: a LATE mention for the long-closed 00:00 window -> must be
    # dropped by the watermark, not resurrect the emitted window
    turn("c3", 0, "spark", "2024-01-01 00:00:30").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    ST.run_windowed_stream(spark, in_dir, out_dir, ckpt)

    rows = [
        (r["window_start"].isoformat(), r["surface"], r["n"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    assert ("2024-01-01T00:00:00", "spark", 1) in rows
    # the late row did not produce a second emission for the same window
    assert sum(1 for w, s, _ in rows if s == "spark" and w == "2024-01-01T00:00:00") == 1
    total_spark = sum(n for w, s, n in rows if s == "spark")
    assert total_spark == 1  # late mention dropped


def _hash_rows(spark, rows):
    return spark.createDataFrame(
        rows, "text_hash string, doc_id long, n_total long"
    )


def test_stateful_dedup_group_across_batches(spark, tmp_path):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    # one duplicate group (h1, 3 members) split across two files ->
    # straddles micro-batches at maxFilesPerTrigger=1; the LOWER id
    # arrives LAST, so the running-min state is what produces canonical=2
    _hash_rows(
        spark, [("h1", 7, 3), ("h1", 9, 3), ("h2", 5, 1)]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    _hash_rows(spark, [("h1", 2, 3)]).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    ST.run_dedup_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=1)
    got = {r.text_hash: (r.canonical_id, r.n_dups)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {"h1": (2, 3), "h2": (5, 1)}


def test_stateful_dedup_equals_batch_dedup(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F
    from dygiepp_spark.operators.dedup import exact_dedup_groups

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .limit(200)
    )
    ST.with_hash_totals(docs).repartition(6).write.mode("overwrite").parquet(
        in_dir
    )
    ST.run_dedup_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=2)
    stream = spark.read.parquet(out_dir).select(
        "text_hash", "canonical_id", "n_dups"
    )
    batch = exact_dedup_groups(docs)
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


# --------------------------------------------------------------------------
# streaming curation (round 3)
# --------------------------------------------------------------------------

def test_quality_stream_equals_batch_filter(spark, sf_dir, tmp_path):
    from dygiepp_spark.functions.text import composite_filter
    import pyspark.sql.functions as F

    docs = TT.load_documents(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    # multiple files -> multiple micro-batches; the filter is per-doc so
    # the drained union must equal the batch operator exactly
    docs.repartition(4).write.mode("overwrite").parquet(in_dir)
    ST.run_quality_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=2)
    got = spark.read.parquet(out_dir).drop("batch_id")
    want = composite_filter(docs)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # re-drain on the same checkpoint: idempotent
    ST.run_quality_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=2)
    assert spark.read.parquet(out_dir).count() == want.count()


def test_streaming_kg_agg_merges_partials_across_batches(spark, sf_dir, tmp_path):
    """The kg-agg stream must actually produce MULTIPLE per-batch partial
    sets (else the merge is vacuous) and their fold must equal the batch
    aggregate_edges rollup."""
    import pyspark.sql.functions as F

    from dygiepp_spark import tables as TT
    from dygiepp_spark.operators import graph as GR
    from dygiepp_spark.streaming import stream as ST

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    turns.repartition(8, "conv_id").write.parquet(in_dir)
    ST.run_kg_agg_stream(
        spark, in_dir, out_dir, ckpt, TT.entity_dict(spark),
        max_files_per_trigger=2,
    )
    sink = spark.read.parquet(out_dir)
    assert sink.select("batch_id").distinct().count() >= 2
    merged = ST.merge_kg_partials(
        sink.select("subj_id", "pred", "obj_id", "support", "max_conf",
                    "n_convs")
    )
    batch = GR.aggregate_edges(
        GR.build_edges(turns, TT.entity_dict(spark))
    )
    assert merged.exceptAll(batch).count() == 0
    assert batch.exceptAll(merged).count() == 0


def test_streaming_tool_usage_merges_partials_across_batches(
    spark, sf_dir, tmp_path
):
    """Multiple per-batch tool-usage partial sets must fold to exactly
    the batch tool_usage rollup on a conv-partitioned feed."""
    from dygiepp_spark import tables as TT
    from dygiepp_spark.operators import transcript as TR
    from dygiepp_spark.streaming import stream as ST

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    turns.repartition(8, "conv_id").write.parquet(in_dir)
    ST.run_tool_usage_stream(
        spark, in_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    sink = spark.read.parquet(out_dir)
    assert sink.select("batch_id").distinct().count() >= 2
    merged = ST.merge_tool_usage_partials(
        sink.select("tool", "n_calls", "n_convs", "sum_turn")
    )
    batch = TR.tool_usage(TR.with_synthetic_tools(turns))
    assert merged.exceptAll(batch).count() == 0
    assert batch.exceptAll(merged).count() == 0


def test_streaming_length_quantiles_merges_partials_across_batches(
    spark, sf_dir, tmp_path
):
    """Multiple per-batch (n_tok, cnt) partial sets must fold to
    exactly the batch length_quantiles output."""
    from dygiepp_spark.functions.text import length_quantiles
    from dygiepp_spark.streaming import stream as ST

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(4).write.parquet(in_dir)
    ST.run_length_counts_stream(
        spark, in_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    sink = spark.read.parquet(out_dir)
    assert sink.select("batch_id").distinct().count() >= 2
    merged = ST.quantiles_from_length_partials(
        sink.select("n_tok", "cnt")
    )
    batch = length_quantiles(docs)
    assert merged.exceptAll(batch).count() == 0
    assert batch.exceptAll(merged).count() == 0
