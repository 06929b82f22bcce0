"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG triple-extraction query on sf0.001.
``queries()`` maps every implemented operator (SURVEY.md §2 + the
training-data-pipeline layer) to a callable ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` gives the DuckDB twin. The transcript input itself is
derived deterministically from the ``documents`` view in BOTH engines (see
dygiepp_spark.tables.TURNS_SQL), so the full pipeline — doc assembly,
tokenization, mention/trigger detection, pair generation, triple emission,
linking, coref/canonicalization, KG materialization, eval — is oracle-
checked end to end. Dedup / text-analysis / multimodal queries run over
the ``documents`` table directly.
"""

from __future__ import annotations

import os
import sys
import uuid
from collections.abc import Callable

_ROOT = os.path.dirname(os.path.abspath(__file__))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dygiepp_spark import oracles, oracles_data, oracles_kg
from dygiepp_spark import tables as TT
from dygiepp_spark.functions import privacy as PII
from dygiepp_spark.functions import text as TX
from dygiepp_spark.operators import collate as CL
from dygiepp_spark.operators import coref as CO
from dygiepp_spark.operators import dedup as DD
from dygiepp_spark.operators import doc_assembly as DA
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.operators import graph as GR
from dygiepp_spark.operators import kg_eval as KE
from dygiepp_spark.operators import linking as LK
from dygiepp_spark.operators import multimodal as MM
from dygiepp_spark.operators import pruning as PR
from dygiepp_spark.operators import spans as SP
from dygiepp_spark.sources import jsonl as JS
from dygiepp_spark.streaming import stream as ST


def _turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TT.turns_from_documents(spark, sf_dir, with_ts=False)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TT.load_documents(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: turns -> mentions -> (subj, pred, obj) triples."""
    turns = _turns(spark, "/root/testdata/sf0.001")
    return EX.emit_triples(turns)


# --------------------------------------------------------------------------
# extraction core
# --------------------------------------------------------------------------

def q_turns(spark, sf_dir):
    return _turns(spark, sf_dir)


def q_doc_assembly(spark, sf_dir):
    return DA.assemble_documents(
        TT.turns_from_documents(spark, sf_dir, with_ts=True)
    ).select("conv_id", "n_turns", "doc_text")


def q_doc_assembly_salted(spark, sf_dir):
    """A2 salted two-phase assembly (the north rule's skew defusal for
    long-conversation tails) — output contract identical to doc_assembly,
    checked against the SAME oracle."""
    return DA.assemble_documents_salted(
        TT.turns_from_documents(spark, sf_dir, with_ts=True)
    ).select("conv_id", "n_turns", "doc_text")


def q_sentence_offsets(spark, sf_dir):
    return DA.with_sentence_offsets(_turns(spark, sf_dir)).select(
        "conv_id", "turn_idx", "n_tokens", "sentence_start"
    )


def q_mentions(spark, sf_dir):
    return EX.detect_mentions(_turns(spark, sf_dir))


def q_span_enum(spark, sf_dir):
    spans = SP.enumerate_spans(_turns(spark, sf_dir), max_width=8)
    return spans.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).alias("n_spans")
    )


def q_triples(spark, sf_dir):
    return EX.emit_triples(_turns(spark, sf_dir))


def q_triples_mechanism(spark, sf_dir):
    return EX.triples_to_mechanism(EX.emit_triples(_turns(spark, sf_dir)))


def q_triples_kernel(spark, sf_dir):
    """Arrow applyInPandas extraction path (kernels.extract) — must emit the
    exact same triple SET as the relational path (same oracle minus conf:
    the kernel carries softmax scores, the relational rule carries the
    distance conf — score parity is covered by the kernel unit tests)."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.scorer import RuleScorer

    turns = _turns(spark, sf_dir)
    return KX.kernel_triples(KX.extract(turns, RuleScorer()), turns).drop("conf")


def q_triples_kernel_corefprop(spark, sf_dir):
    """M17 end-to-end: the Arrow kernel with ONE round of coref
    propagation (dygie.py:227-235, coref.py:111-154) re-ranking the
    relation beam — same triple-set contract as triples_kernel but under
    the propagated scores of CorefRuleScorer."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.scorer import CorefRuleScorer

    turns = _turns(spark, sf_dir)
    return KX.kernel_triples(
        KX.extract(turns, CorefRuleScorer(), coref_prop=1), turns
    ).drop("conf")


def q_events(spark, sf_dir):
    return EX.extract_events(_turns(spark, sf_dir))


def q_events_binary(spark, sf_dir):
    return EX.events_binary_decode(EX.extract_events(_turns(spark, sf_dir)))


# --------------------------------------------------------------------------
# coref / linking / graph
# --------------------------------------------------------------------------

def q_coref_clusters(spark, sf_dir):
    return CO.coref_clusters(EX.detect_mentions(_turns(spark, sf_dir)))


def q_coref_canonical(spark, sf_dir):
    return CO.canonicalize_clusters(
        CO.coref_clusters(EX.detect_mentions(_turns(spark, sf_dir)))
    )


def _cluster_frames(spark, sf_dir):
    # pin the shared mention frame: pred AND gold clusterings consume it —
    # without the checkpoint the token explode re-runs once per consumer
    # (under AQE the pin runs its shuffle stages when it is called)
    mentions = EX.detect_mentions(_turns(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    pred = CO.coref_clusters(mentions).select("conv_id", "mention_ix", "cluster_id")
    gold = CO.coref_clusters_global(mentions).select(
        "conv_id", "mention_ix", "cluster_id"
    )
    return pred, gold


def q_coref_muc(spark, sf_dir):
    return CO.muc_score(*_cluster_frames(spark, sf_dir))


def q_coref_b3(spark, sf_dir):
    return CO.b3_counts(*_cluster_frames(spark, sf_dir))


def q_coref_ceafe(spark, sf_dir):
    """G5 CEAF-e: optimal pred/gold cluster alignment under φ4, exact
    Kuhn–Munkres per conversation (completes the CoNLL triple)."""
    return CO.ceafe_stats(*_cluster_frames(spark, sf_dir))


def q_linked_mentions(spark, sf_dir):
    return LK.link_mentions(
        EX.detect_mentions(_turns(spark, sf_dir)), TT.entity_dict(spark)
    )


def q_kg_edges(spark, sf_dir):
    return GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))


def q_kg_nodes(spark, sf_dir):
    return GR.build_nodes(_turns(spark, sf_dir), TT.entity_dict(spark))


def q_kg_edges_agg(spark, sf_dir):
    return GR.aggregate_edges(
        GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    )


# --------------------------------------------------------------------------
# eval layer
# --------------------------------------------------------------------------

def q_ie_eval_exact(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(EX.emit_triples(turns), KE.gold_triples(turns), "exact")


def q_ie_eval_substring(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(EX.emit_triples(turns), KE.gold_triples(turns), "substring")


def q_ie_eval_partial(spark, sf_dir):
    """K1 'partial' (eval_metrics.py:40-64 ``partial_span_score`` /
    ``partial_match_score``): refind-normalized token-overlap ratio
    >= 0.3 on both argument pairs — the alternate eval path behind the
    fork's ``eval_annotation_qualilty`` grids."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(EX.emit_triples(turns), KE.gold_triples(turns), "partial")


def q_ie_eval_firsttok(spark, sf_dir):
    """K1 'firsttok' (``scierc_partial_match_score``,
    eval_metrics.py:67-75): first refind-normalized token equality."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(EX.emit_triples(turns), KE.gold_triples(turns), "firsttok")


def q_ie_eval_reverse(spark, sf_dir):
    """K2 consider_reverse (eval_utils.py:283-335): a pred also matches a
    gold with swapped arguments (label equality on both branches)."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(
        EX.emit_triples(turns), KE.gold_triples(turns), "exact",
        consider_reverse=True,
    )


def q_ie_eval_topk(spark, sf_dir):
    """K3 topK cut (predrels[:topK], eval_utils.py:783-785) — exercised
    through the distributed k-th-score prefilter path."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(
        EX.emit_triples(turns), KE.gold_triples(turns), "exact", topk=500
    )


def q_ie_eval_coref_expand(spark, sf_dir):
    """K2 coref/alias-expanded matching (read_coref_matches,
    eval_utils.py:265-287): gold is written in deterministic shorthand
    (vowels stripped), so exact matching finds nothing and only the alias
    expansion recovers the pairs."""
    turns = _turns(spark, sf_dir)
    gold = (
        KE.gold_triples(turns)
        .withColumn("arg0", F.regexp_replace("arg0", "[aeiou]", ""))
        .withColumn("arg1", F.regexp_replace("arg1", "[aeiou]", ""))
    )
    return KE.ie_eval(
        EX.emit_triples(turns), gold, "exact", aliases=TT.alias_pairs(spark)
    )


def q_ie_eval_rouge(spark, sf_dir):
    """K1 'rouge' (eval_utils.py:227-232): rouge-L f > 0.3 under the
    pltrdy/rouge formula, vs context-widened gold spans."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(
        EX.emit_triples(turns), KE.gold_triples_ctx(turns), "rouge"
    )


def q_ie_eval_head(spark, sf_dir):
    """K1 'head' (eval_utils.py:221-226): head-token match (last-token
    stand-in, documented), vs context-widened gold spans."""
    turns = _turns(spark, sf_dir)
    return KE.ie_eval(
        EX.emit_triples(turns), KE.gold_triples_ctx(turns), "head"
    )


def q_ie_span_eval(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    return KE.ie_span_eval(EX.emit_triples(turns), KE.gold_triples(turns))


def q_ie_errors(spark, sf_dir):
    """Error listing for low-agreement docs (eval_utils.py:946-1020):
    the flagship pred triples vs the tight-distance gold, substring
    matching — docs where fewer than half the predictions find a gold
    match contribute their gold rows + unmatched-pred rows."""
    turns = _turns(spark, sf_dir)
    docs = DA.assemble_documents(
        TT.turns_from_documents(spark, sf_dir, with_ts=True)
    ).select("conv_id", "doc_text")
    return KE.ie_errors(
        EX.emit_triples(turns), KE.gold_triples(turns), docs,
        metric="substring",
    )


def q_micro_prf(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    return KE.micro_prf(EX.emit_triples(turns), KE.gold_triples(turns))


def q_micro_prf_namespaced(spark, sf_dir):
    """G6 namespace averaging: per-shard micro P/R/F1 + __mean__ row
    (dygie.py:139-158 namespaces; shard = conv_id % 3 stand-in)."""
    turns = _turns(spark, sf_dir)
    return KE.micro_prf_by_namespace(EX.emit_triples(turns), KE.gold_triples(turns))


def q_gold_transitive(spark, sf_dir):
    return KE.transitive_closure(KE.gold_triples(_turns(spark, sf_dir)), rounds=2)


def q_triples_topk(spark, sf_dir):
    return PR.global_topk_with_ties(EX.emit_triples(_turns(spark, sf_dir)), "conf", 50)


def q_best_label_per_pair(spark, sf_dir):
    return PR.best_per_span(
        EX.emit_triples(_turns(spark, sf_dir)),
        span_cols=["conv_id", "arg0", "arg1"],
        score_col="conf",
        tiebreak_cols=["label", "sent_text"],
    )


def q_ie_eval_event(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    pred = EX.events_binary_decode(EX.extract_events(turns, max_dist=4))
    gold = EX.events_binary_decode(EX.extract_events(turns, max_dist=2))
    return KE.ie_eval_event(pred, gold)


def q_arg_multiplicity(spark, sf_dir):
    return KE.arg_multiplicity(EX.extract_events(_turns(spark, sf_dir), max_dist=4))


def q_greedy_match(spark, sf_dir):
    turns = _turns(spark, sf_dir)
    return KE.greedy_match(EX.emit_triples(turns), KE.gold_triples(turns))


def q_event_f1_4way(spark, sf_dir):
    """G3 four-way event metrics (event_metrics.py:25-117): trig_id /
    trig_class / arg_id / arg_class P/R/F1 — arguments match through the
    trigger LABEL, not its offset. Gold = the extractor at the tight
    distance knob, as in ie_eval_event."""
    turns = _turns(spark, sf_dir)
    pred = EX.extract_events(turns, max_dist=4)
    gold = EX.extract_events(turns, max_dist=2)
    return KE.event_f1_4way(pred, gold)


def q_method_accept_rate(spark, sf_dir):
    """Per-method accept-rate ranking (eval_predictions_quality.py:12-27):
    the flagship extractor vs the SRL and depparse baselines, accept =
    the predicted pair appears in the rule gold."""
    from dygiepp_spark.operators import baselines as BL

    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    preds = {
        "dygiepp": EX.emit_triples(turns),
        "srlmap": BL.srl_baseline(turns),
        "depparse": BL.depparse_baseline(turns),
    }
    return KE.method_accept_rate(preds, KE.gold_triples(turns))


def q_accept_rate_filtered(spark, sf_dir):
    """Per-method accept-rate with the full calc_original_accept_per_alg
    knob set (eval_predictions_quality.py:103-178): jaccard >= 0.4 on
    stopword-filtered arguments, reverse branch on — the fuzzy
    accept-by-code the reference ranks extraction methods with."""
    from dygiepp_spark.operators import baselines as BL

    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    preds = {
        "dygiepp": EX.emit_triples(turns),
        "srlmap": BL.srl_baseline(turns),
        "depparse": BL.depparse_baseline(turns),
    }
    return KE.method_accept_rate_filtered(
        preds, KE.gold_triples(turns), thresh=0.4, consider_reverse=True
    )


def q_human_eval_sheet(spark, sf_dir):
    """Human-eval annotation sheet (write_human_eval.py:63-175): the
    three in-tree methods' predictions interleaved over a deterministic
    hash-ranked sample of the docs every method covered, capped at 2
    rows per (doc, method)."""
    from dygiepp_spark.operators import baselines as BL

    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    preds = {
        "dygiepp": EX.emit_triples(turns),
        "srlmap": BL.srl_baseline(turns),
        "depparse": BL.depparse_baseline(turns),
    }
    docs = DA.assemble_documents(
        TT.turns_from_documents(spark, sf_dir, with_ts=True)
    ).select("conv_id", "doc_text")
    return KE.human_eval_sheet(preds, docs, n_docs=50, cap_per_method=2)


def q_human_eval_scores(spark, sf_dir):
    """The similarity-scores sheet write_human_eval emits alongside the
    annotation TSV (write_human_eval.py:148-160 / get_relation_scores,
    eval_utils.py:29-37): raw case-sensitive jaccard + substring per
    argument for every (sampled pred, same-doc gold) combination that
    some metric scores nonzero on both arguments."""
    from dygiepp_spark.operators import baselines as BL

    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    preds = {
        "dygiepp": EX.emit_triples(turns),
        "srlmap": BL.srl_baseline(turns),
        "depparse": BL.depparse_baseline(turns),
    }
    return KE.human_eval_scores(
        preds, KE.gold_triples(turns), n_docs=50, cap_per_method=2
    )


def q_grid_best_cell(spark, sf_dir):
    """Best-cell selection (find_max_score consumer,
    eval_predictions_quality.py:29-63) over the eval_grid stats frame."""
    turns = _turns(spark, sf_dir)
    return KE.grid_best_cell(
        KE.eval_grid(EX.emit_triples(turns), KE.gold_triples_ctx(turns))
    )


def q_agreement_report(spark, sf_dir):
    """Annotator agreement report (annotation_metric.py:16-45 /
    eval_utils.py:567-617): two derived 'annotators' (the extractor at its
    default and a tighter distance knob) scored against the tight-knob
    gold over the full (metric x collapse x jaccard-threshold) grid."""
    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    preds = {
        "rule": EX.emit_triples(turns),
        "tight": EX.emit_triples(turns, max_dist=4),
    }
    return KE.agreement_report(preds, EX.emit_triples(turns, max_dist=2))


def q_baseline_srl(spark, sf_dir):
    """K9 SRL/OpenIE verb-frame baseline (eval_utils.py:48-172
    ``allenlp_base_relations`` + srlmap): one (arg0, verb-frame-label,
    arg1) triple per srlmap-matched verb, over unique sentence texts."""
    from dygiepp_spark.operators import baselines as BL

    return BL.srl_baseline(_turns(spark, sf_dir))


def q_eval_grid(spark, sf_dir):
    """Eval grid sweep (eval_metric.py:142-214): the full (match_metric x
    collapse x topK) stats frame in one job over cached pred/gold —
    relation cells, span cells, P@K cells."""
    turns = _turns(spark, sf_dir)
    return KE.eval_grid(EX.emit_triples(turns), KE.gold_triples_ctx(turns))


def q_coref_mention_recall(spark, sf_dir):
    """G5 MentionRecall (dygie/models/coref.py:15-16): fraction of gold
    cluster mentions present in the predicted clustering, per conv +
    __total__."""
    pred, gold = _cluster_frames(spark, sf_dir)
    return CO.mention_recall(pred, gold)


def q_doc_split(spark, sf_dir):
    """A4 exact Document.split (document.py:184-236): greedy grouping,
    _SPLIT_i doc keys, offset/index rebase; short docs pass through
    unchanged. max=36 tokens (3 derived turns) so real splits occur."""
    return DA.split_documents(_turns(spark, sf_dir), max_tokens_per_doc=36).select(
        "doc_key", "conv_id", "orig_turn_idx", "turn_idx",
        "sentence_start", "n_tokens", "text",
    )


def q_triples_replay(spark, sf_dir):
    """The north-rule P/R gate as a hard-signal query: the Arrow kernel
    with replayed scores (decode OURS, scores from the reference's SciERC
    fixture annotations) must emit exactly the reference's triple set;
    the oracle derives that set from the same JSONL in DuckDB. Input is
    the fixture, not sf_dir — the gate is corpus-pinned by design."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.scorer import ReplayScorer
    from dygiepp_spark.oracles import SCIERC_FIXTURE

    preds: dict = {}
    for doc in JS.load_jsonl(SCIERC_FIXTURE):
        preds.update(JS.doc_predictions(doc))
    turns = JS.turns_from_jsonl(spark, SCIERC_FIXTURE)
    return KX.kernel_triples(
        KX.extract(turns, ReplayScorer(preds)), turns
    ).drop("conf")


def q_baseline_allpairs(spark, sf_dir):
    """K9 allpairs_base (eval_utils.py:388-412): exhaustive ordered
    mention-pair baseline."""
    from dygiepp_spark.operators import baselines as BL

    return BL.allpairs_baseline(_turns(spark, sf_dir))


def q_baseline_depparse(spark, sf_dir):
    """K9 depparse_base (eval_utils.py:414-463): trigger-pivot
    subject/object baseline (parser-free stand-in, documented)."""
    from dygiepp_spark.operators import baselines as BL

    return BL.depparse_baseline(_turns(spark, sf_dir))


def q_long_turns(spark, sf_dir):
    """P5 length guardrail (check_sentence_length.py:21-33): report turns
    exceeding the encoder token budget (threshold scaled to the corpus)."""
    from dygiepp_spark.operators.doc_assembly import with_token_counts

    return with_token_counts(_turns(spark, sf_dir)).filter(
        F.col("n_tokens") > 8
    ).select("conv_id", "turn_idx", "n_tokens")


def q_gold_alignment(spark, sf_dir):
    """A8 gold-label alignment (dygie.py:58-67): left-join gold mentions
    onto the enumerated span grid; misses take the null label at index 0
    (ner.py:49-51). Aggregated to per-label counts (the dense grid itself
    is O(n_tokens * W))."""
    turns = _turns(spark, sf_dir)
    enumerated = SP.enumerate_spans(turns, max_width=8)
    gold = EX.detect_mentions(turns).withColumn("label", F.col("surface")).select(
        "conv_id", "turn_idx", "start", "end", "label"
    )
    aligned = SP.align_gold_labels(enumerated, gold, null_label="O")
    return aligned.groupBy("label").agg(F.count(F.lit(1)).alias("n_spans"))


def q_label_confusion(spark, sf_dir):
    """S7 pred/gold merge (dygie_visualize_util.py:39-55): outer-join the
    gold and predicted triple frames on the triple key, coalescing labels —
    the confusion matrix of the rule extractor vs the tight-distance gold."""
    turns = _turns(spark, sf_dir)
    pred = EX.emit_triples(turns).select(
        "conv_id", "arg0", "arg1", F.col("label").alias("pred_label")
    ).distinct()
    gold = KE.gold_triples(turns).select(
        "conv_id", "arg0", "arg1", F.col("label").alias("gold_label")
    )
    merged = pred.join(gold, ["conv_id", "arg0", "arg1"], "full_outer")
    return merged.groupBy(
        F.coalesce(F.col("gold_label"), F.lit("∅")).alias("gold_label"),
        F.coalesce(F.col("pred_label"), F.lit("∅")).alias("pred_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# batch shaping + validation + TSV round-trip
# --------------------------------------------------------------------------

def q_collate(spark, sf_dir):
    return CL.collate(_turns(spark, sf_dir)).select(
        "conv_id", "turn_idx", "text", "n_tokens", "cost", "pseudo_doc_id", "slot"
    )


def q_uncollate(spark, sf_dir):
    return CL.uncollate(CL.collate(_turns(spark, sf_dir)))


def q_check_dense(spark, sf_dir):
    return DA.check_dense_turns(_turns(spark, sf_dir))


def q_split_disjointness(spark, sf_dir):
    return DA.split_disjointness(_turns(spark, sf_dir))


#: per-query scratch dirs for file round-trips and streaming drains
_SCRATCH = os.path.join(_ROOT, ".tmp")


def _consume_and_remove(df: DataFrame, base: str) -> DataFrame:
    """Materialize ``df`` (eager localCheckpoint) so the scratch dir under
    .tmp can be deleted immediately instead of accumulating across runs —
    the returned frame no longer references the files."""
    import shutil

    out = df.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_tsv_roundtrip(spark, sf_dir):
    """S3 TSV sink + S4 TSV scan round-trip (predict.py:36-42 /
    eval_metric.py:79-84): triples written as TSV and read back must hash
    identically to the triples oracle — doubles survive because the CSV
    writer emits shortest-round-trip representations."""
    base = os.path.join(_SCRATCH, f"tsv_{uuid.uuid4().hex[:8]}")
    JS.write_triples_tsv(EX.emit_triples(_turns(spark, sf_dir)), base)
    return _consume_and_remove(JS.read_triples_tsv(spark, base), base)


# --------------------------------------------------------------------------
# dedup family (over documents + derived overlapping chunks)
# --------------------------------------------------------------------------

def q_csv_ingest(spark, sf_dir):
    """S6 metadata-CSV ingest (preprocess.py:192-224): a CORD-19-style
    metadata CSV (derived deterministically from the documents table,
    every 37th abstract blanked) is written, scanned back with header
    addressing, empty abstracts skipped, and tokenized into doc rows —
    the oracle derives the same rows straight from the documents view."""
    base = os.path.join(_SCRATCH, f"csv_{uuid.uuid4().hex[:8]}")
    JS.write_metadata_csv(_docs(spark, sf_dir), base)
    return _consume_and_remove(JS.ingest_metadata_csv(spark, base), base)


def q_json_ingest(spark, sf_dir):
    """S6 article-JSON ingest (preprocess.py:142-190): CORD-19-style
    article objects (derived deterministically from the documents table)
    are scanned back with the abstract/metadata-fallback/skip rules and
    tokenized into doc rows; the oracle derives the same rows from the
    documents view."""
    base = os.path.join(_SCRATCH, f"artjson_{uuid.uuid4().hex[:8]}")
    JS.write_article_json(_docs(spark, sf_dir), base)
    return _consume_and_remove(JS.ingest_article_json(spark, base), base)


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup_groups(_docs(spark, sf_dir))


def q_dedup_tokenset(spark, sf_dir):
    return DD.tokenset_dedup_groups(_docs(spark, sf_dir))


def q_near_dups_minhash(spark, sf_dir):
    return DD.near_dups_minhash(DD.doc_chunks(_docs(spark, sf_dir)))


def q_near_dups_simhash(spark, sf_dir):
    return DD.near_dups_simhash(DD.doc_chunks(_docs(spark, sf_dir)))


def q_ngram_jaccard(spark, sf_dir):
    return DD.ngram_jaccard_pairs(DD.doc_chunks(_docs(spark, sf_dir)))


# --------------------------------------------------------------------------
# text analysis (documents table)
# --------------------------------------------------------------------------

def _doc_text(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )


def q_pii_scrub(spark, sf_dir):
    return PII.scrub_pii(PII.with_synthetic_pii(_doc_text(spark, sf_dir)))


def q_conv_stats(spark, sf_dir):
    from dygiepp_spark.operators import transcript as TR

    return TR.conv_stats(_turns(spark, sf_dir))


def q_sessions(spark, sf_dir):
    from dygiepp_spark.operators import transcript as TR

    # synthetic gap-ful clock: a 60 s pause before every 4th turn, so the
    # 30 s threshold cuts 4-turn sessions (same closed form in the oracle)
    with_ts = _turns(spark, sf_dir).withColumn(
        "ts_sec", F.expr("turn_idx * 2 + (turn_idx div 4) * 60")
    )
    return TR.session_stats(TR.sessionize(with_ts, gap_sec=30))


def q_decontam(spark, sf_dir):
    from dygiepp_spark.operators import decontam as DC

    docs = _doc_text(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return DC.decontaminate(corpus, benchmark, n=3)


def q_repetition(spark, sf_dir):
    return TX.repetition_features(_doc_text(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )
    return TX.stratified_sample(
        docs, rates={"en": 0.5, "de": 0.25}, default_rate=0.1
    )


def q_token_counts(spark, sf_dir):
    df = TX.bpe_ish_token_count(TX.word_token_count(_doc_text(spark, sf_dir)))
    return df.select("doc_id", "n_tokens", "n_bpe_tokens")


def q_langid(spark, sf_dir):
    return TX.langid(_doc_text(spark, sf_dir)).select("doc_id", "pred_lang")


def q_quality(spark, sf_dir):
    return TX.quality_score(_doc_text(spark, sf_dir)).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_token_len", "quality",
    )


def q_fingerprint(spark, sf_dir):
    return TX.fingerprint(_doc_text(spark, sf_dir))


# --------------------------------------------------------------------------
# multimodal (binary payload plumbing via mapInPandas)
# --------------------------------------------------------------------------

def q_image_meta(spark, sf_dir):
    return MM.image_metadata(_docs(spark, sf_dir))


def q_frame_samples(spark, sf_dir):
    return MM.frame_samples(_docs(spark, sf_dir))


def q_image_resize(spark, sf_dir):
    return MM.resize_image(_docs(spark, sf_dir))


def q_audio_chunks(spark, sf_dir):
    return MM.audio_chunks(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# corpus curation: dedup-group compaction, composite filter, URL hygiene,
# vocabulary stats
# --------------------------------------------------------------------------

def q_dedup_groups(spark, sf_dir):
    """Near-dup pairs -> connected components -> keeper per group: the
    compaction half of a dedup pass (pairs alone don't dedup a corpus).
    DuckDB side cross-checks with a RECURSIVE reachability CTE — an
    independent CC formulation."""
    from dygiepp_spark.operators import compaction as CP

    chunks = DD.doc_chunks(_docs(spark, sf_dir))
    pairs = DD.near_dups_minhash(chunks).select("id_a", "id_b")
    nodes = chunks.select(F.col("chunk_id").alias("id"))
    return CP.compact_corpus(CP.near_dup_groups(pairs, nodes))


def q_quality_filter(spark, sf_dir):
    return TX.composite_filter(_doc_text(spark, sf_dir))


def q_triples_transformer(spark, sf_dir):
    """M1 made real: the numpy transformer forward (attention + FFN +
    factored-bilinear heads, deterministic synthetic weights) batched over
    same-length sentence groups inside the Arrow kernel, decoded through
    the same beam/threshold path as every other scorer. No SQL oracle —
    attention math is not DuckDB-expressible bit-identically — so the
    gate records the weaker rows-only check; determinism and
    batched-vs-per-sentence equality are pinned by pytest."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.transformer import NumpyTransformerScorer

    turns = _turns(spark, sf_dir)
    return KX.kernel_triples(
        KX.extract(turns, NumpyTransformerScorer()), turns
    )


def q_transformer_selfcheck(spark, sf_dir):
    """Driver-visible hard signal for the M1 transformer path (attention
    math has no bit-identical DuckDB twin, so the invariants pytest pins
    are re-derived as COUNTS a ``SELECT 0, 0`` oracle can check):

    * ``batch_mismatch``  — two-way exceptAll row count between the
      same-length-group batched forward (one (B, n, d) tensor per length)
      and the per-sentence forward: 0 iff batching is output-identical;
    * ``determinism_mismatch`` — two-way exceptAll row count between two
      INDEPENDENTLY CONSTRUCTED scorer instances run end to end: 0 iff
      the synthetic weight construction + forward are deterministic.

    Both comparisons are distributed (exceptAll), folded to one row.
    """
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.transformer import NumpyTransformerScorer

    turns = _turns(spark, sf_dir).localCheckpoint(eager=False)
    batched = KX.extract(
        turns, NumpyTransformerScorer(), batched=True
    ).localCheckpoint(eager=False)
    single = KX.extract(turns, NumpyTransformerScorer(), batched=False)
    twin = KX.extract(turns, NumpyTransformerScorer(), batched=True)
    batch_mm = batched.exceptAll(single).unionByName(
        single.exceptAll(batched)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("batch_mismatch"))
    det_mm = batched.exceptAll(twin).unionByName(
        twin.exceptAll(batched)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("determinism_mismatch"))
    return batch_mm.crossJoin(det_mm)


def q_events_replay(spark, sf_dir):
    """The north-rule gate's EVENT half as a hard-signal query (sibling of
    triples_replay): the Arrow kernel with replayed scores over the
    reference's ACE event fixture must emit exactly the reference's
    (trigger, event_type, arg span, role) set — argument rows joined to
    their trigger's decoded label, as in dygie/models/events.py:251-279.
    The oracle derives the same set from the fixture JSONL in DuckDB
    (doc offsets rebased by shifted-cumsum sentence starts). Input is the
    fixture, not sf_dir — corpus-pinned by design."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.scorer import ReplayScorer
    from dygiepp_spark.oracles import ACE_EVENT_FIXTURE

    preds: dict = {}
    for doc in JS.load_jsonl(ACE_EVENT_FIXTURE):
        preds.update(JS.doc_predictions(doc))
    turns = JS.turns_from_jsonl(spark, ACE_EVENT_FIXTURE)
    ext = KX.extract(turns, ReplayScorer(preds)).localCheckpoint(eager=False)
    trig = ext.filter(F.col("row_type") == "trigger").select(
        "conv_id", "turn_idx",
        F.col("s1").alias("trig_ix"), F.col("label").alias("event_type"),
    )
    args = ext.filter(F.col("row_type") == "argument").select(
        "conv_id", "turn_idx", F.col("s1").alias("trig_ix"),
        F.col("s2").alias("arg_s"), F.col("e2").alias("arg_e"),
        F.col("label").alias("role"),
    )
    return args.join(trig, ["conv_id", "turn_idx", "trig_ix"]).select(
        "conv_id", "turn_idx", "trig_ix", "event_type",
        "arg_s", "arg_e", "role",
    ).distinct()


def q_url_filter(spark, sf_dir):
    from dygiepp_spark.functions import web as WB

    docs = WB.with_synthetic_urls(_doc_text(spark, sf_dir))
    return WB.url_stats(docs, WB.default_blocklist(spark))


def q_vocab_topk(spark, sf_dir):
    """Global vocabulary top-k with rank() tie semantics: the classic
    corpus-stats job, cut with the distributed k-th-score threshold
    (pruning.kth_score_threshold) instead of an unpartitioned window."""
    tokens = _doc_text(spark, sf_dir).select(
        F.explode(TX.tokens_col(F.col("text"))).alias("token")
    )
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return PR.global_topk_with_ties(counts, "n", 100)


def q_vocab_build(spark, sf_dir):
    """Full vocabulary-build semantics (reference vocab.py:31-88):
    min_freq cut, max_size cap, specials-first ids, (freq desc, token asc)
    order — the complete Vocab construction, not just the frequency top-k
    of vocab_topk."""
    return TX.vocab_build(
        _doc_text(spark, sf_dir), min_freq=2, max_size=200,
        specials=("<pad>", "<unk>"),
    )


def q_ie_eval_event_golden(spark, sf_dir):
    """K5 against a NON-DERIVED gold: the frozen golden event TSV
    (dygiepp_spark/fixtures/event_gold.tsv, the reference's
    event_pred/test-gold.tsv shape — generated once from the tight-knob
    extractor, deterministically perturbed, then committed) loaded
    identically by both engines, so the metric exercises a gold that is
    not the live extractor."""
    from dygiepp_spark.oracles_kg import EVENT_GOLD_FIXTURE

    pred = EX.events_binary_decode(
        EX.extract_events(_turns(spark, sf_dir), max_dist=4)
    )
    gold = spark.read.csv(EVENT_GOLD_FIXTURE, sep="\t", header=True)
    return KE.ie_eval_event(pred, gold)


def q_tfidf_topk(spark, sf_dir):
    """Per-document tf-idf keyword extraction (top-5 terms per doc,
    integer idf — see functions.text.tfidf_topk)."""
    return TX.tfidf_topk(_doc_text(spark, sf_dir), k=5)


# --------------------------------------------------------------------------
# streaming (availableNow drain == batch result for stateless stages)
# --------------------------------------------------------------------------

def _through_stream(
    spark: SparkSession,
    feed: DataFrame,
    drain: Callable[[str, str, str], None],
    read: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Run one streaming query over a scratch drop directory: write
    ``feed`` there as parquet (its partitioning fixes which rows share a
    micro-batch), ``drain(in_dir, out_dir, checkpoint_dir)``, then shape
    the sink with ``read`` and materialize it so the scratch dir can go."""
    base = os.path.join(_SCRATCH, f"stream_{uuid.uuid4().hex[:8]}")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    feed.write.mode("overwrite").parquet(in_dir)
    drain(in_dir, out_dir, ckpt)
    return _consume_and_remove(read(spark.read.parquet(out_dir)), base)


def q_streaming_mentions(spark, sf_dir):
    return _through_stream(
        spark, _turns(spark, sf_dir),
        lambda i, o, c: ST.run_mentions_stream(spark, i, o, c),
        lambda out: out,
    )


def q_streaming_triples(spark, sf_dir):
    """Micro-batch triple extraction through the foreachBatch pipeline
    with the idempotent batch_id-partitioned sink. The drop dir is
    partitioned BY CONVERSATION (8 conv-hashed files, 2 per micro-batch),
    so no conversation straddles a batch and the union of per-batch
    triple sets equals the batch pipeline's output — the oracle is the
    batch triples SQL."""
    return _through_stream(
        spark, _turns(spark, sf_dir).repartition(8, "conv_id"),
        lambda i, o, c: ST.run_triples_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: out.select(
            "conv_id", "sent_text", "arg0", "arg1", "label", "conf"
        ),
    )


def q_streaming_quality(spark, sf_dir):
    """Curation-at-ingestion: the composite quality filter drained through
    foreachBatch micro-batches with the idempotent batch_id sink. The
    filter is per-document and one stream row carries one whole doc, so
    the drained union equals the batch operator exactly — checked against
    the same SQL oracle as `quality_filter`."""
    return _through_stream(
        spark, _doc_text(spark, sf_dir).repartition(4),
        lambda i, o, c: ST.run_quality_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: out.select("doc_id", "n_tokens", "reason_bits", "keep"),
    )


def q_streaming_assembly(spark, sf_dir):
    """Stateful streaming doc-assembly (applyInPandasWithState keyed on
    conv_id): conversations are hash-spread over multiple input files and
    drained a few files per micro-batch, so most straddle batch
    boundaries; the state store must reassemble them exactly — the oracle
    is the BATCH doc-assembly SQL."""
    turns = TT.turns_from_documents(spark, sf_dir, with_ts=True)
    return _through_stream(
        spark, ST.with_turn_totals(turns).repartition(8),
        lambda i, o, c: ST.run_assembly_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: out.select("conv_id", "n_turns", "doc_text"),
    )


def q_streaming_dedup(spark, sf_dir):
    """Stateful streaming exact-dedup: duplicate groups are hash-spread
    over input files and drained one file per micro-batch, so groups
    straddle batch boundaries; the state store must converge to the batch
    aggregation — the oracle is the batch dedup_exact SQL."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return _through_stream(
        spark, ST.with_hash_totals(docs).repartition(8),
        lambda i, o, c: ST.run_dedup_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: out.select("text_hash", "canonical_id", "n_dups"),
    )


def q_streaming_windowed(spark, sf_dir):
    """Event-time windowed mention counts with a watermark: the streaming
    drain (plus one horizon sentinel that closes the trailing windows)
    must equal the batch rollup — the oracle is the batch SQL."""
    # 4s windows: the derived corpus spans only ~8s of event time (1s per
    # turn), so production-scale 60s windows would collapse to one bucket
    return _through_stream(
        spark, TT.turns_from_documents(spark, sf_dir, with_ts=True),
        lambda i, o, c: ST.run_windowed_stream(spark, i, o, c, window_sec=4),
        lambda out: out.select("window_start", "surface", "n"),
    )


# --------------------------------------------------------------------------
# round-4 additions: as-of join / graph analytics / substring dedup /
# turn-taking structure
# --------------------------------------------------------------------------

def q_asof_events(spark, sf_dir):
    """Each turn picks up the most recent event at-or-before its synthetic
    clock for its user key (temporal.asof_join — the MERGE-shaped as-of,
    one shuffle). Clock: epoch(2024-01-01) + conv*3600 + turn*30 spreads
    conversations across the events table's one-month span."""
    from dygiepp_spark.operators import temporal as TP

    turns = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        (F.col("conv_id").cast("bigint") % oracles_data.ASOF_KEY_MOD).alias("ukey"),
        (
            F.lit(oracles_data.EPOCH_2024)
            + F.col("conv_id").cast("bigint") * 3600
            + F.col("turn_idx").cast("bigint") * 30
        ).alias("ts_sec"),
    )
    # ts is TIMESTAMP_NTZ: convert to epoch seconds timezone-free via
    # whole-second diff from an on-boundary NTZ anchor (== DuckDB's
    # epoch_us(ts) // 1e6 — both floor, no session-timezone dependence)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % oracles_data.ASOF_KEY_MOD).alias("ukey"),
        (
            F.expr(
                "timestampdiff(SECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
            )
            + F.lit(oracles_data.EPOCH_2024)
        ).alias("ets"),
        "event_id",
        "event_type",
        "value",
    )
    out = TP.asof_join(
        turns, ev, ["ukey"], "ts_sec", "ets", ["event_id", "event_type", "value"]
    )
    return out.select("conv_id", "turn_idx", "event_id", "event_type", "value")


def q_pagerank(spark, sf_dir):
    """Integer-quantized PageRank over the linked KG edge list."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.pagerank(edges, iterations=3).select(
        "node_id", F.col("rank").alias("pr")
    )


def q_substring_dedup(spark, sf_dir):
    return DD.substring_dup_spans(_docs(spark, sf_dir))


def q_turn_taking(spark, sf_dir):
    from dygiepp_spark.operators import transcript as TR

    return TR.turn_taking(_turns(spark, sf_dir))


def q_triangles(spark, sf_dir):
    """Per-node triangle counts over the linked KG (degree-ordered
    orientation — wedge work bounded by out-degree, skew-safe)."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.triangle_counts(edges)


def q_pagerank_weighted(spark, sf_dir):
    """Support-weighted PageRank over the aggregated KG."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.pagerank_weighted(GR.aggregate_edges(edges), iterations=3).select(
        "node_id", F.col("rank").alias("pr")
    )


def q_response_latency(spark, sf_dir):
    """Assistant reply-latency rollup on the synthetic gap-ful clock
    (same clock as the sessions queries)."""
    from dygiepp_spark.operators import transcript as TR

    with_ts = _turns(spark, sf_dir).withColumn(
        "ts_sec", F.expr("turn_idx * 2 + (turn_idx div 4) * 60")
    )
    return TR.response_latency(with_ts)


def q_partitioned_sink(spark, sf_dir):
    """Hive-style partition layout + partition pruning: KG edges written
    partitionBy(pred), then ONE predicate's partition read back — the
    100 TB warehouse practice where a pred-filtered scan touches only its
    directory (PartitionFilters in the plan, pinned by
    test_partitioned_sink_prunes). Oracle = the same single-predicate
    filter over the edges SQL."""
    base = os.path.join(_SCRATCH, f"part_{uuid.uuid4().hex[:8]}")
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    edges.write.mode("overwrite").partitionBy("pred").parquet(base)
    back = (
        spark.read.parquet(base)
        .filter(F.col("pred") == "USED-FOR")
        .select("subj_id", "pred", "obj_id", "conv_id", "turn_idx", "conf")
    )
    return _consume_and_remove(back, base)


def q_kcore(spark, sf_dir):
    """2-core of the linked KG, peeled to fixpoint — the DAG's
    ``kg_kcore`` call."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.kcore_fixpoint(edges, k=2)


def q_containment(spark, sf_dir):
    """Asymmetric containment (quote/subset detection) over the minhash
    LSH candidate pairs — C(A in B) = |A∩B| / |A|."""
    return DD.containment_pairs(DD.doc_chunks(_docs(spark, sf_dir)))


def q_streaming_sessions(spark, sf_dir):
    """Stateful streaming sessionization: turns hash-spread over input
    files and drained two per micro-batch, so conversations straddle
    batches; the state store buffers until each conversation completes
    and then cuts sessions exactly like the batch operator — the oracle
    is the same SQL as the batch `sessions` query."""
    from pyspark.sql import Window

    with_ts = (
        _turns(spark, sf_dir)
        .withColumn("ts_sec", F.expr("turn_idx * 2 + (turn_idx div 4) * 60"))
        .withColumn(
            "n_turns",
            F.count(F.lit(1)).over(Window.partitionBy("conv_id")).cast("int"),
        )
        .select("conv_id", "turn_idx", F.col("ts_sec").cast("bigint"), "n_turns")
    )
    return _through_stream(
        spark, with_ts.repartition(8),
        lambda i, o, c: ST.run_session_stream(
            spark, i, o, c, gap_sec=30, max_files_per_trigger=2
        ),
        lambda out: out.select(
            "conv_id", "session_ix", "n_turns", "first_turn", "last_turn",
            "duration_sec",
        ),
    )


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus report (C4/CCNet-style rollup) over
    the synthetic-URL-augmented corpus."""
    from dygiepp_spark.functions import web as WB

    docs = WB.with_synthetic_urls(_doc_text(spark, sf_dir))
    return WB.domain_stats(docs, WB.default_blocklist(spark))


def q_length_quantiles(spark, sf_dir):
    """Exact corpus token-length quantiles via the integer-domain trick
    (agg to (length, count); the window runs over distinct lengths)."""
    return TX.length_quantiles(_docs(spark, sf_dir))


def q_streaming_asof(spark, sf_dir):
    """Stream-static as-of enrichment: turn micro-batches joined against
    the static events dimension via foreachBatch. Per-row semantics make
    the drained union equal the batch operator under any batching, so the
    oracle is the same SQL as `asof_events`."""
    left = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        (F.col("conv_id").cast("bigint") % oracles_data.ASOF_KEY_MOD).alias("ukey"),
        (
            F.lit(oracles_data.EPOCH_2024)
            + F.col("conv_id").cast("bigint") * 3600
            + F.col("turn_idx").cast("bigint") * 30
        ).alias("ts_sec"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % oracles_data.ASOF_KEY_MOD).alias("ukey"),
        (
            F.expr(
                "timestampdiff(SECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
            )
            + F.lit(oracles_data.EPOCH_2024)
        ).alias("ets"),
        "event_id",
        "event_type",
        "value",
    )
    return _through_stream(
        spark, left.repartition(8, "conv_id"),
        lambda i, o, c: ST.run_asof_stream(
            spark,
            i,
            "conv_id string, turn_idx int, ukey bigint, ts_sec bigint",
            ev,
            o,
            c,
            ["event_id", "event_type", "value"],
            max_files_per_trigger=2,
        ),
        lambda out: out.select(
            "conv_id", "turn_idx", "event_id", "event_type", "value"
        ),
    )


def q_negative_samples(spark, sf_dir):
    """Filtered tail-corruption negatives over the linked KG — the
    KG-embedding training-data prep step. Uses the dense-id path (the
    E{ix:03d} dictionary ids ARE the dense rank), so the plan carries no
    single-partition row_number sort; output — and hence the oracle — is
    identical to the ranked fallback."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.negative_samples(
        edges,
        TT.entity_dict(spark),
        k=3,
        dense_id=F.expr("cast(substring(entity_id, 2) as bigint)"),
    )


def q_orc_roundtrip(spark, sf_dir):
    """Columnar ORC sink + scan round-trip: triples written to ORC and
    read back must hash identically to the triples oracle (bit-exact
    doubles by construction — no text serialization involved)."""
    base = os.path.join(_SCRATCH, f"orc_{uuid.uuid4().hex[:8]}")
    JS.write_triples_orc(EX.emit_triples(_turns(spark, sf_dir)), base)
    return _consume_and_remove(JS.read_triples_orc(spark, base), base)


def q_lm_score(spark, sf_dir):
    """CCNet-style unigram-LM quality scoring + head/middle/tail
    perplexity tertiles (integer floor-log2 surprisal — bit-portable)."""
    return TX.lm_score(_docs(spark, sf_dir))


def q_bpe_pairs(spark, sf_dir):
    """One BPE merge round: top-50 adjacent-symbol-pair merge candidates
    over the word-type frequency table (subword-nmt get_stats shape)."""
    return TX.bpe_pair_counts(_docs(spark, sf_dir), k=50)


def q_source_mix(spark, sf_dir):
    """Training-mixture weighting per source: natural token share vs the
    alpha=1/2 temperature-smoothed sampling mixture, all BIGINT ppm."""
    return TX.source_mix(_docs(spark, sf_dir))


def q_intra_dedup(spark, sf_dir):
    """Intra-document block dedup (RefinedWeb line-dedup adapted to
    delimiter-less text): keep-first over 8-token blocks + cleaned text."""
    return DD.intra_doc_dedup(_docs(spark, sf_dir), block=8)


def q_pack_sequences(spark, sf_dir):
    """Deterministic token-budget shard packing via the two-level scan
    (bucket-partitioned cumsum + bounded bucket-dim prefix)."""
    return TX.pack_sequences(_docs(spark, sf_dir), budget=2048)


def q_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-unigram importance weights (target = lang='en'),
    integer floor-log2 surprisal difference."""
    return TX.dsir_weights(_docs(spark, sf_dir))


def q_kg_components(spark, sf_dir):
    """Connected components over the linked KG (min-id label per node)
    through the pointer-doubling CC of ``compaction.near_dup_groups``."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.kg_components(edges)


def q_tool_usage(spark, sf_dir):
    """Per-tool usage rollup over the synthetically tool-augmented
    transcript corpus (agent analytics)."""
    from dygiepp_spark.operators import transcript as TR

    return TR.tool_usage(TR.with_synthetic_tools(_turns(spark, sf_dir)))


def q_tool_transitions(spark, sf_dir):
    """Tool-call transition matrix (which tool follows which within a
    conversation) — the agent-behavior signature rollup."""
    from dygiepp_spark.operators import transcript as TR

    return TR.tool_transitions(TR.with_synthetic_tools(_turns(spark, sf_dir)))


def q_pmi_pairs(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by integer-quantized PMI
    (rank-faithful probability ratio, min-count floor)."""
    return TX.pmi_pairs(_docs(spark, sf_dir), k=50, min_count=5)


def q_degree_hist(spark, sf_dir):
    """Degree distribution of the linked KG with power-of-two bins —
    the pre-flight skew report every graph job starts from."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.degree_hist(edges)


def q_link_prediction(spark, sf_dir):
    """Common-neighbor link-prediction features (cn / pref-attach /
    Jaccard numerator+denominator as integers) over the part-supplier
    bipartite graph: supplier pairs ranked by shared-catalog evidence
    through low-degree part centers. The mention-derived KG is a
    complete graph at test scale (every entity pair co-occurs), which
    makes link prediction vacuous there — the bipartite co-catalog
    domain is the non-degenerate testbed, and the operator is generic
    over any (subj_id, obj_id) frame."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias(
            "subj_id"
        ),
        F.concat(F.lit("S:"), F.col("l_suppkey").cast("string")).alias(
            "obj_id"
        ),
    )
    return GR.link_prediction(edges, max_center_degree=64, min_common=2)


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus over the linked KG: hash-argmin
    next hops, so the walk set is a pure function of the graph —
    reproducible graph-embedding training data, one shuffle per step."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.random_walks(edges, length=4, walks_per_node=2)


def q_walk_skipgrams(spark, sf_dir):
    """Skip-gram (center, context, n) counts over the deterministic
    walk corpus — the embedding-training input; pair fan-out bounded
    per (node, walk) key regardless of graph skew."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.walk_skipgrams(edges, length=4, walks_per_node=2, window=2)


def q_filter_rate_by_source(spark, sf_dir):
    """Rule-filter keep rate per feed — completes the per-source
    trilogy (dedup rate, contamination rate, filter rate)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    return TX.filter_rate_by_source(docs)


def q_coverage_curve(spark, sf_dir):
    """Zipf coverage at k in {1,5,10,20} from one pinned vocabulary
    scan — the subword-vocab sizing table."""
    return TX.coverage_curve(_docs(spark, sf_dir), ks=(1, 5, 10, 20))


def q_provenance_integrity(spark, sf_dir):
    """Lineage self-check: provenance strings parse back to their own
    rows and span invariants hold — all-zero counters when healthy."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.provenance_integrity(edges)


def q_edge_confidence_profile(spark, sf_dir):
    """Per-predicate exact confidence mix — the P7 threshold-setting
    table (the conf domain is enumerable, so no binning)."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.edge_confidence_profile(edges)


def q_streaming_length_quantiles(spark, sf_dir):
    """Streaming EXACT quantiles: per-batch (n_tok, cnt) partials in
    the idempotent sink, folded + quantile-read on the read side —
    same lower-rank semantics and SQL oracle as `length_quantiles`."""
    return _through_stream(
        spark, _doc_text(spark, sf_dir).repartition(4),
        lambda i, o, c: ST.run_length_counts_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: ST.quantiles_from_length_partials(
            out.select("n_tok", "cnt")
        ),
    )


def q_event_schema_profile(spark, sf_dir):
    """Event-ontology profile: (event_type, role) argument counts and
    role shares — the event analog of schema_profile."""
    return EX.event_schema_profile(EX.extract_events(_turns(spark, sf_dir)))


def q_decontam_rate_by_source(spark, sf_dir):
    """Benchmark-contamination rate per feed (same corpus/benchmark
    split as `decontam`)."""
    from dygiepp_spark.operators import decontam as DC

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return DC.decontam_rate_by_source(corpus, benchmark, n=3)


def q_simhash_hamming_hist(spark, sf_dir):
    """SimHash Hamming-distance histogram over all banded candidates —
    the empirical max_hamming threshold picker."""
    return DD.simhash_hamming_hist(DD.doc_chunks(_docs(spark, sf_dir)))


def q_quality_decile_yield(spark, sf_dir):
    """Rule-filter keep-rate per quality decile — the rules-vs-score
    calibration table."""
    return TX.quality_decile_yield(_doc_text(spark, sf_dir))


def q_role_vocab_divergence(spark, sf_dir):
    """Role-conditional vocabulary shares (integer ppm) — the style-
    audit / role-leak report over transcripts."""
    from dygiepp_spark.operators import transcript as TR

    return TR.role_vocab_divergence(_turns(spark, sf_dir))


def q_source_language_mix(spark, sf_dir):
    """Per-source language composition over the langid heuristic —
    the multilingual mixing-table input."""
    return TX.source_language_mix(_docs(spark, sf_dir))


def q_pack_efficiency(spark, sf_dir):
    """Packing-utilization one-rower over the token-budget packer."""
    return TX.pack_efficiency(_docs(spark, sf_dir), budget=2048)


def q_minhash_error_hist(spark, sf_dir):
    """MinHash estimator-vs-exact error histogram over verified pairs —
    the band/row self-calibration check."""
    return DD.minhash_error_hist(DD.doc_chunks(_docs(spark, sf_dir)))


def q_gap_hist(spark, sf_dir):
    """Inter-turn gap histogram (power-of-two bins) over the synthetic
    gap-ful clock — the empirical sessionization-threshold picker."""
    from dygiepp_spark.operators import transcript as TR

    with_ts = _turns(spark, sf_dir).withColumn(
        "ts_sec", F.expr("turn_idx * 2 + (turn_idx div 4) * 60")
    )
    return TR.gap_hist(with_ts)


def q_cluster_size_hist(spark, sf_dir):
    """Coref chain-length distribution — the anaphora-density report."""
    return CO.cluster_size_hist(
        CO.coref_clusters(EX.detect_mentions(_turns(spark, sf_dir)))
    )


def q_dedup_rate_by_source(spark, sf_dir):
    """Per-source curation yield of the full near-dup pass — which feed
    is mostly mirrors."""
    from dygiepp_spark.operators import compaction as CP

    return CP.dedup_rate_by_source(_docs(spark, sf_dir))


def q_ntriples_roundtrip(spark, sf_dir):
    """N-Triples KG export + scan round-trip: the re-parsed (s, p, o)
    set must hash identically to the distinct edge set."""
    base = os.path.join(_SCRATCH, f"nt_{uuid.uuid4().hex[:8]}")
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    JS.write_edges_ntriples(edges, base)
    return _consume_and_remove(JS.read_edges_ntriples(spark, base), base)


def q_ngram_coverage(spark, sf_dir):
    """Zipf head-weight: share of token occurrences covered by the
    top-10 unigram types (tie-inclusive distributed threshold cut).
    k=10 < the 30-type synthetic vocabulary, so the threshold path
    (not the all-types fallback) is what parity exercises."""
    return TX.ngram_coverage(_docs(spark, sf_dir), k=10)


def q_turn_length_drift(spark, sf_dir):
    """Per-turn-position survival + mean token length — the
    conversation-dynamics curve behind truncation budgets."""
    from dygiepp_spark.operators import transcript as TR

    return TR.turn_length_drift(_turns(spark, sf_dir))


def q_bloom_decontam(spark, sf_dir):
    """Bloom-filter decontamination pre-pass: benchmark grams folded to
    <= m bit positions, corpus grams probed relationally."""
    from dygiepp_spark.operators import decontam as DC

    docs = _doc_text(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return DC.bloom_decontam(corpus, benchmark, n=3, m=4096, k=3)


def q_length_curriculum(spark, sf_dir):
    """Curriculum stages from exact length tertiles — shortest-first
    schedule assignment, no sketch error, no corpus sort."""
    return TX.length_curriculum(_docs(spark, sf_dir))


def q_kg_novelty(spark, sf_dir):
    """Per-conversation KG contribution: occurrences, distinct triples
    touched, triples owned (first asserter), novelty ratio."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.kg_novelty(edges)


def q_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix via document fingerprints —
    which sources mirror each other, with containment ratios."""
    return TX.source_overlap(_docs(spark, sf_dir))


def q_predicate_reciprocity(spark, sf_dir):
    """Per-predicate reverse-edge rate — the symmetric-relation
    detector for KG schema induction."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.predicate_reciprocity(edges)


def q_shard_manifest(spark, sf_dir):
    """Deterministic export-shard plan over documents: hash-mod
    placement + per-shard doc/char/token manifest."""
    return TX.shard_manifest(_docs(spark, sf_dir), n_shards=16)


def q_mention_contexts(spark, sf_dir):
    """Entity-linker training export: every linked mention with ±3-token
    normalized context windows — (surface, context) -> entity_id."""
    from dygiepp_spark.operators import linking as LK

    return LK.mention_contexts(_turns(spark, sf_dir), TT.entity_dict(spark), k=3)


def q_conv_funnel(spark, sf_dir):
    """Pipeline yield funnel: total convs -> tooled -> mentioned ->
    tripled, with exact-integer yield ratios (synthetic tool
    augmentation applied here, at the query layer, like the other
    tool queries)."""
    from dygiepp_spark.operators import transcript as TR

    return TR.conv_funnel(TR.with_synthetic_tools(_turns(spark, sf_dir)))


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the linked KG — exact integer sufficient
    statistics, one final division; the hubs-to-hubs-or-leaves scalar."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.assortativity(edges)


def q_entity_pmi(spark, sf_dir):
    """PMI-weighted entity co-occurrence edges (presence-based counts,
    capped conversations, rank-faithful integer PMI) — the association
    half of KG construction alongside extraction-based edges."""
    return GR.entity_pmi(
        _turns(spark, sf_dir), TT.entity_dict(spark),
        min_count=2, max_conv_entities=256,
    )


def q_hot_entities(spark, sf_dir):
    """Entity-skew pre-flight: per entity, mention totals, conv spread,
    and the hottest conversation's share — the salting-decision table."""
    return GR.hot_entities(_turns(spark, sf_dir), TT.entity_dict(spark))


def q_tool_chains(spark, sf_dir):
    """Longest consecutive same-tool run per conversation (gaps-and-
    islands over the tool-call subsequence) — agent loop detection."""
    from dygiepp_spark.operators import transcript as TR

    return TR.tool_chains(TR.with_synthetic_tools(_turns(spark, sf_dir)))


def q_schema_profile(spark, sf_dir):
    """Ontology co-occurrence report: (subj_type, pred, obj_type) edge
    and conversation counts — the schema-induction / drift-audit table."""
    turns = _turns(spark, sf_dir)
    dic = TT.entity_dict(spark)
    return GR.schema_profile(
        GR.build_edges(turns, dic), GR.build_nodes(turns, dic)
    )


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram table for extractor confidence: per conf
    decile, how many predicted triples and how many hit gold exactly."""
    turns = _turns(spark, sf_dir)
    return KE.calibration_bins(
        EX.emit_triples(turns), KE.gold_triples(turns), bins=10
    )


def q_streaming_kg_agg(spark, sf_dir):
    """Streaming KG materialization: micro-batch extract->link->rollup
    into per-batch partials (the Iceberg streaming-upsert shape), folded
    by merge_kg_partials on read. The feed is conv-partitioned (8
    conv-hashed files, 2 per micro-batch), so partials merge exactly and
    the fold equals batch aggregate_edges — same SQL oracle as
    `kg_edges_agg`."""
    return _through_stream(
        spark, _turns(spark, sf_dir).repartition(8, "conv_id"),
        lambda i, o, c: ST.run_kg_agg_stream(
            spark, i, o, c, TT.entity_dict(spark), max_files_per_trigger=2
        ),
        lambda out: ST.merge_kg_partials(
            out.select(
                "subj_id", "pred", "obj_id", "support", "max_conf", "n_convs"
            )
        ),
    )


def q_streaming_tool_usage(spark, sf_dir):
    """Streaming tool-usage analytics: micro-batch partial (count,
    conv-count, turn-sum) rollups per tool in the idempotent partial-
    sink contract, folded on read — same SQL oracle as `tool_usage`
    (the conv-partitioned feed makes the fold equal the batch op)."""
    return _through_stream(
        spark, _turns(spark, sf_dir).repartition(8, "conv_id"),
        lambda i, o, c: ST.run_tool_usage_stream(
            spark, i, o, c, max_files_per_trigger=2
        ),
        lambda out: ST.merge_tool_usage_partials(
            out.select("tool", "n_calls", "n_convs", "sum_turn")
        ),
    )


def q_lpa_communities(spark, sf_dir):
    """Synchronous min-tie label-propagation communities over the linked
    KG, propagated to fixpoint — the DAG's ``kg_communities`` call."""
    edges = GR.build_edges(_turns(spark, sf_dir), TT.entity_dict(spark))
    return GR.lpa_fixpoint(edges)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is DELIBERATE: the driver's correctness harness
    verifies the FIRST 50 entries. The round-5 window (the rotation plan
    VERDICT r4 #1 prescribed): (a) the 16 queries added at the round-4
    tail, which have local parity evidence but no driver row yet —
    front-loaded so they finally earn one; (b) the 18 queries NEW this
    round (incl. the late-round lm_score / bpe_pairs / source_mix /
    lpa_communities / intra_dedup / pack_sequences / dsir_weights /
    kg_components / streaming_kg_agg / pmi_pairs / degree_hist /
    tool_usage / tool_transitions, which displace the newest thirteen
    (d) rows — event_f1_4way, baseline_srl, csv_ingest, json_ingest,
    conv_stats, sessions, streaming_dedup, ie_errors, decontam,
    repetition, stratified_sample, frame_samples, pii_scrub — to the
    top of the tail); (e) the closing-session operators (every key
    after url_filter, in commit order — link_prediction onward) sit at
    the VERY END of the tail — each parity-gated at sf0.001 AND sf0.01
    individually at commit time, plus unit/property tests;
    (c) the 3 queries whose chains changed this round (eval_grid
    gained the 'partial' metric column, grid_best_cell consumes it, and
    method_accept_rate's oracle was refactored onto the shared preds CTE
    chain); (d) the 22 OLDEST green rows — queries whose last driver row
    is CORRECTNESS_r03, taken in their r3 tail order, of which the first
    four displaced rows (frame_samples, pii_scrub, repetition,
    stratified_sample) close the window. The tail holds the remaining 22 r3-row queries (incl. the rows-only
    triples_transformer) followed by the 47 queries with fresh r4 rows —
    rotated out intentionally, not dropped; every tail entry stayed
    green in this round's full scripts/parity.py run at sf0.001 (see
    BENCH/PLANS.md for the run note). If a late-round perf change
    touches a tail chain (e.g. dedup_groups), swap it into the last
    window slots in place of the newest (d) rows.
    """
    return {
        # (a) round-4 tail: local-parity-only queries earning their first
        # driver row
        "asof_events": q_asof_events,
        "pagerank": q_pagerank,
        "pagerank_weighted": q_pagerank_weighted,
        "kcore": q_kcore,
        "negative_samples": q_negative_samples,
        "triangles": q_triangles,
        "substring_dedup": q_substring_dedup,
        "containment": q_containment,
        "turn_taking": q_turn_taking,
        "response_latency": q_response_latency,
        "length_quantiles": q_length_quantiles,
        "domain_stats": q_domain_stats,
        "orc_roundtrip": q_orc_roundtrip,
        "partitioned_sink": q_partitioned_sink,
        "streaming_asof": q_streaming_asof,
        "streaming_sessions": q_streaming_sessions,
        # (b) new in round 5
        "ie_eval_partial": q_ie_eval_partial,
        "ie_eval_firsttok": q_ie_eval_firsttok,
        "accept_rate_filtered": q_accept_rate_filtered,
        "human_eval_sheet": q_human_eval_sheet,
        "human_eval_scores": q_human_eval_scores,
        "lm_score": q_lm_score,
        "bpe_pairs": q_bpe_pairs,
        "source_mix": q_source_mix,
        "lpa_communities": q_lpa_communities,
        "intra_dedup": q_intra_dedup,
        "pack_sequences": q_pack_sequences,
        "dsir_weights": q_dsir_weights,
        "kg_components": q_kg_components,
        "streaming_kg_agg": q_streaming_kg_agg,
        "pmi_pairs": q_pmi_pairs,
        "degree_hist": q_degree_hist,
        "tool_usage": q_tool_usage,
        "tool_transitions": q_tool_transitions,
        # (c) chains changed in round 5
        "eval_grid": q_eval_grid,
        "grid_best_cell": q_grid_best_cell,
        "method_accept_rate": q_method_accept_rate,
        # (d) oldest green rows (last driver row = CORRECTNESS_r03),
        # r3 tail order
        "ngram_jaccard": q_ngram_jaccard,
        "streaming_assembly": q_streaming_assembly,
        "streaming_windowed": q_streaming_windowed,
        "streaming_mentions": q_streaming_mentions,
        "streaming_triples": q_streaming_triples,
        "token_counts": q_token_counts,
        "langid": q_langid,
        "quality": q_quality,
        "image_meta": q_image_meta,
        # displaced from (d) by the thirteen late-round-5 queries above —
        # their r3 rows stand, chains unchanged, full-parity green; the
        # first four close the window
        "frame_samples": q_frame_samples,
        "pii_scrub": q_pii_scrub,
        "repetition": q_repetition,
        "stratified_sample": q_stratified_sample,
        # ---- tail: beyond the 50-query harness window ----
        "decontam": q_decontam,
        "conv_stats": q_conv_stats,
        "sessions": q_sessions,
        "streaming_dedup": q_streaming_dedup,
        "ie_errors": q_ie_errors,
        "event_f1_4way": q_event_f1_4way,
        "baseline_srl": q_baseline_srl,
        "csv_ingest": q_csv_ingest,
        "json_ingest": q_json_ingest,
        # remaining r3-row queries (each green in this round's full
        # sf0.001 parity pass)
        "coref_mention_recall": q_coref_mention_recall,
        "doc_split": q_doc_split,
        "doc_assembly_salted": q_doc_assembly_salted,
        "triples_replay": q_triples_replay,
        "dedup_groups": q_dedup_groups,
        "quality_filter": q_quality_filter,
        "vocab_topk": q_vocab_topk,
        "image_resize": q_image_resize,
        "audio_chunks": q_audio_chunks,
        "triples_transformer": q_triples_transformer,  # rows-only (no SQL twin)
        "streaming_quality": q_streaming_quality,
        "tfidf_topk": q_tfidf_topk,
        "micro_prf_namespaced": q_micro_prf_namespaced,
        "greedy_match": q_greedy_match,
        "triples": q_triples,
        "triples_kernel": q_triples_kernel,
        "triples_kernel_corefprop": q_triples_kernel_corefprop,
        "ie_eval_exact": q_ie_eval_exact,
        "ie_eval_reverse": q_ie_eval_reverse,
        "ie_eval_topk": q_ie_eval_topk,
        "ie_eval_coref_expand": q_ie_eval_coref_expand,
        "ie_eval_event": q_ie_eval_event,
        # queries with FRESH green rows in CORRECTNESS_r04 (the newest
        # evidence in the project — rotated out to fund the window above),
        # in their r4 window order
        "fingerprint": q_fingerprint,
        "turns": q_turns,
        "doc_assembly": q_doc_assembly,
        "sentence_offsets": q_sentence_offsets,
        "mentions": q_mentions,
        "span_enum": q_span_enum,
        "events": q_events,
        "events_binary": q_events_binary,
        "coref_clusters": q_coref_clusters,
        "coref_canonical": q_coref_canonical,
        "coref_muc": q_coref_muc,
        "coref_b3": q_coref_b3,
        "coref_ceafe": q_coref_ceafe,
        "kg_edges": q_kg_edges,
        "kg_nodes": q_kg_nodes,
        "kg_edges_agg": q_kg_edges_agg,
        "linked_mentions": q_linked_mentions,
        "dedup_exact": q_dedup_exact,
        "dedup_tokenset": q_dedup_tokenset,
        "near_dups_minhash": q_near_dups_minhash,
        "near_dups_simhash": q_near_dups_simhash,
        "collate": q_collate,
        "uncollate": q_uncollate,
        "gold_transitive": q_gold_transitive,
        "triples_mechanism": q_triples_mechanism,
        "micro_prf": q_micro_prf,
        "triples_topk": q_triples_topk,
        "label_confusion": q_label_confusion,
        "tsv_roundtrip": q_tsv_roundtrip,
        "best_label_per_pair": q_best_label_per_pair,
        "ie_eval_substring": q_ie_eval_substring,
        "ie_eval_rouge": q_ie_eval_rouge,
        "ie_eval_head": q_ie_eval_head,
        "ie_span_eval": q_ie_span_eval,
        "arg_multiplicity": q_arg_multiplicity,
        "long_turns": q_long_turns,
        "gold_alignment": q_gold_alignment,
        "baseline_allpairs": q_baseline_allpairs,
        "baseline_depparse": q_baseline_depparse,
        "check_dense": q_check_dense,
        "split_disjointness": q_split_disjointness,
        "transformer_selfcheck": q_transformer_selfcheck,
        "events_replay": q_events_replay,
        "agreement_report": q_agreement_report,
        "vocab_build": q_vocab_build,
        "ie_eval_event_golden": q_ie_eval_event_golden,
        "url_filter": q_url_filter,
        # (e) post-window round-5 additions (tail — parity-gated at both
        # SFs; rotate into the window next cycle)
        "link_prediction": q_link_prediction,
        "random_walks": q_random_walks,
        "walk_skipgrams": q_walk_skipgrams,
        "calibration_bins": q_calibration_bins,
        "schema_profile": q_schema_profile,
        "tool_chains": q_tool_chains,
        "hot_entities": q_hot_entities,
        "streaming_tool_usage": q_streaming_tool_usage,
        "entity_pmi": q_entity_pmi,
        "assortativity": q_assortativity,
        "conv_funnel": q_conv_funnel,
        "mention_contexts": q_mention_contexts,
        "shard_manifest": q_shard_manifest,
        "predicate_reciprocity": q_predicate_reciprocity,
        "source_overlap": q_source_overlap,
        "kg_novelty": q_kg_novelty,
        "length_curriculum": q_length_curriculum,
        "bloom_decontam": q_bloom_decontam,
        "turn_length_drift": q_turn_length_drift,
        "ngram_coverage": q_ngram_coverage,
        "ntriples_roundtrip": q_ntriples_roundtrip,
        "dedup_rate_by_source": q_dedup_rate_by_source,
        "cluster_size_hist": q_cluster_size_hist,
        "gap_hist": q_gap_hist,
        "minhash_error_hist": q_minhash_error_hist,
        "pack_efficiency": q_pack_efficiency,
        "source_language_mix": q_source_language_mix,
        "role_vocab_divergence": q_role_vocab_divergence,
        "quality_decile_yield": q_quality_decile_yield,
        "simhash_hamming_hist": q_simhash_hamming_hist,
        "decontam_rate_by_source": q_decontam_rate_by_source,
        "event_schema_profile": q_event_schema_profile,
        "streaming_length_quantiles": q_streaming_length_quantiles,
        "edge_confidence_profile": q_edge_confidence_profile,
        "provenance_integrity": q_provenance_integrity,
        "coverage_curve": q_coverage_curve,
        "filter_rate_by_source": q_filter_rate_by_source,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "turns": oracles.turns_oracle(),
        "doc_assembly": oracles.doc_assembly_oracle(),
        "doc_assembly_salted": oracles.doc_assembly_oracle(),
        "sentence_offsets": oracles.sentence_offsets_oracle(),
        "mentions": oracles.mentions_oracle(),
        "span_enum": oracles.span_enum_oracle(),
        "triples": oracles.triples_oracle(),
        "triples_mechanism": oracles.triples_mechanism_oracle(),
        "triples_kernel": oracles.triples_set_oracle(),
        "triples_kernel_corefprop": oracles.triples_set_corefprop_oracle(),
        "events": oracles.events_oracle(),
        "events_binary": oracles.events_binary_oracle(),
        "coref_clusters": oracles_kg.coref_clusters_oracle(),
        "coref_canonical": oracles_kg.coref_canonical_oracle(),
        "coref_muc": oracles_kg.coref_muc_oracle(),
        "coref_b3": oracles_kg.coref_b3_counts_oracle(),
        "coref_ceafe": oracles_kg.coref_ceafe_oracle(),
        "linked_mentions": oracles_kg.linked_mentions_oracle(),
        "kg_edges": oracles_kg.kg_edges_oracle(),
        "kg_nodes": oracles_kg.kg_nodes_oracle(),
        "kg_edges_agg": oracles_kg.kg_edges_agg_oracle(),
        "ie_eval_exact": oracles_kg.ie_eval_exact_oracle(),
        "ie_eval_substring": oracles_kg.ie_eval_substring_oracle(),
        "ie_eval_reverse": oracles_kg.ie_eval_reverse_oracle(),
        "ie_eval_topk": oracles_kg.ie_eval_topk_oracle(k=500),
        "ie_eval_rouge": oracles_kg.ie_eval_rouge_oracle(),
        "ie_eval_coref_expand": oracles_kg.ie_eval_coref_expand_oracle(),
        "ie_eval_head": oracles_kg.ie_eval_head_oracle(),
        "ie_eval_partial": oracles_kg.ie_eval_partial_oracle(),
        "ie_eval_firsttok": oracles_kg.ie_eval_firsttok_oracle(),
        "accept_rate_filtered": oracles_kg.accept_rate_filtered_oracle(
            thresh=0.4, consider_reverse=True
        ),
        "human_eval_sheet": oracles_kg.human_eval_sheet_oracle(
            n_docs=50, cap_per_method=2
        ),
        "human_eval_scores": oracles_kg.human_eval_scores_oracle(
            n_docs=50, cap_per_method=2
        ),
        "ie_span_eval": oracles_kg.ie_span_eval_oracle(),
        "micro_prf": oracles_kg.micro_prf_oracle(),
        "micro_prf_namespaced": oracles_kg.micro_prf_namespaced_oracle(),
        "gold_transitive": oracles_kg.gold_transitive_oracle(rounds=2),
        "triples_topk": oracles_kg.triples_topk_oracle(k=50),
        "best_label_per_pair": oracles_kg.best_label_per_pair_oracle(),
        "ie_eval_event": oracles_kg.ie_eval_event_oracle(),
        "ie_errors": oracles_kg.ie_errors_oracle(),
        "arg_multiplicity": oracles_kg.arg_multiplicity_oracle(),
        "long_turns": oracles_kg.long_turns_oracle(),
        "gold_alignment": oracles_kg.gold_alignment_oracle(),
        "label_confusion": oracles_kg.label_confusion_oracle(),
        "greedy_match": oracles_kg.greedy_match_oracle(),
        "event_f1_4way": oracles_kg.event_f1_4way_oracle(),
        "baseline_srl": oracles_kg.baseline_srl_oracle(),
        "csv_ingest": oracles.csv_ingest_oracle(),
        "json_ingest": oracles.json_ingest_oracle(),
        "eval_grid": oracles_kg.eval_grid_oracle(),
        "coref_mention_recall": oracles_kg.coref_mention_recall_oracle(),
        "doc_split": oracles.doc_split_oracle(max_tokens=36),
        "triples_replay": oracles.triples_replay_oracle(),
        "baseline_allpairs": oracles_kg.baseline_allpairs_oracle(),
        "baseline_depparse": oracles_kg.baseline_depparse_oracle(),
        "collate": oracles_kg.collate_oracle(),
        "uncollate": oracles_kg.uncollate_oracle(),
        "check_dense": oracles_kg.check_dense_oracle(),
        "split_disjointness": oracles_kg.split_disjointness_oracle(),
        "tsv_roundtrip": oracles.triples_oracle(),
        "dedup_exact": oracles_data.dedup_exact_oracle(),
        "dedup_tokenset": oracles_data.dedup_tokenset_oracle(),
        "near_dups_minhash": oracles_data.near_dups_minhash_oracle(),
        "near_dups_simhash": oracles_data.near_dups_simhash_oracle(),
        "ngram_jaccard": oracles_data.ngram_jaccard_oracle(),
        "pii_scrub": oracles_data.pii_scrub_oracle(),
        "repetition": oracles_data.repetition_oracle(),
        "stratified_sample": oracles_data.stratified_sample_oracle(),
        "decontam": oracles_data.decontam_oracle(),
        "conv_stats": oracles.conv_stats_oracle(),
        "sessions": oracles.session_stats_oracle(gap_sec=30),
        "token_counts": oracles_data.token_counts_oracle(),
        "langid": oracles_data.langid_oracle(),
        "quality": oracles_data.quality_oracle(),
        "fingerprint": oracles_data.fingerprint_oracle(),
        "image_meta": oracles_data.image_meta_oracle(),
        "frame_samples": oracles_data.frame_samples_oracle(),
        "streaming_dedup": oracles_data.dedup_exact_oracle(),
        "streaming_mentions": oracles.mentions_oracle(),
        "streaming_assembly": oracles.doc_assembly_oracle(),
        "streaming_windowed": oracles.windowed_mention_counts_oracle(window_sec=4),
        "streaming_triples": oracles.triples_oracle(),
        "dedup_groups": oracles_data.dedup_groups_oracle(),
        "quality_filter": oracles_data.quality_filter_oracle(),
        "url_filter": oracles_data.url_filter_oracle(),
        "vocab_topk": oracles_data.vocab_topk_oracle(k=100),
        "image_resize": oracles_data.image_resize_oracle(),
        "audio_chunks": oracles_data.audio_chunks_oracle(),
        "streaming_quality": oracles_data.quality_filter_oracle(),
        "tfidf_topk": oracles_data.tfidf_topk_oracle(k=5),
        "transformer_selfcheck": (
            "SELECT CAST(0 AS BIGINT) AS batch_mismatch, "
            "CAST(0 AS BIGINT) AS determinism_mismatch"
        ),
        "events_replay": oracles.events_replay_oracle(),
        "method_accept_rate": oracles_kg.method_accept_rate_oracle(),
        "grid_best_cell": oracles_kg.grid_best_cell_oracle(),
        "agreement_report": oracles_kg.agreement_report_oracle(),
        "vocab_build": oracles_data.vocab_build_oracle(
            min_freq=2, max_size=200, specials=("<pad>", "<unk>")
        ),
        "ie_eval_event_golden": oracles_kg.ie_eval_event_golden_oracle(),
        "asof_events": oracles_data.asof_events_oracle(),
        "pagerank": oracles_kg.pagerank_oracle(iterations=3),
        "substring_dedup": oracles_data.substring_dup_oracle(window=16),
        "turn_taking": oracles.turn_taking_oracle(),
        "triangles": oracles_kg.triangle_counts_oracle(),
        "orc_roundtrip": oracles.triples_oracle(),
        "negative_samples": oracles_kg.negative_samples_oracle(k=3),
        "streaming_asof": oracles_data.asof_events_oracle(),
        "length_quantiles": oracles_data.length_quantiles_oracle(),
        "domain_stats": oracles_data.domain_stats_oracle(),
        "streaming_sessions": oracles.session_stats_oracle(gap_sec=30),
        "containment": oracles_data.containment_oracle(thresh=0.4),
        "kcore": oracles_kg.kcore_oracle(k=2),
        "partitioned_sink": oracles_kg.partitioned_sink_oracle(),
        "response_latency": oracles.response_latency_oracle(),
        "pagerank_weighted": oracles_kg.pagerank_weighted_oracle(iterations=3),
        "lm_score": oracles_data.lm_score_oracle(),
        "bpe_pairs": oracles_data.bpe_pairs_oracle(k=50),
        "source_mix": oracles_data.source_mix_oracle(),
        "lpa_communities": oracles_kg.lpa_oracle(),
        "intra_dedup": oracles_data.intra_dedup_oracle(block=8),
        "pack_sequences": oracles_data.pack_sequences_oracle(budget=2048),
        "dsir_weights": oracles_data.dsir_weights_oracle(),
        "kg_components": oracles_kg.kg_components_oracle(),
        "streaming_kg_agg": oracles_kg.kg_edges_agg_oracle(),
        "pmi_pairs": oracles_data.pmi_pairs_oracle(k=50, min_count=5),
        "degree_hist": oracles_kg.degree_hist_oracle(),
        "tool_usage": oracles.tool_usage_oracle(),
        "tool_transitions": oracles.tool_transitions_oracle(),
        "link_prediction": oracles_kg.link_prediction_oracle(
            max_center_degree=64, min_common=2
        ),
        "random_walks": oracles_kg.random_walks_oracle(
            length=4, walks_per_node=2
        ),
        "walk_skipgrams": oracles_kg.walk_skipgrams_oracle(
            length=4, walks_per_node=2, window=2
        ),
        "calibration_bins": oracles_kg.calibration_bins_oracle(bins=10),
        "schema_profile": oracles_kg.schema_profile_oracle(),
        "tool_chains": oracles.tool_chains_oracle(),
        "hot_entities": oracles_kg.hot_entities_oracle(),
        "streaming_tool_usage": oracles.tool_usage_oracle(),
        "entity_pmi": oracles_kg.entity_pmi_oracle(
            min_count=2, max_conv_entities=256
        ),
        "assortativity": oracles_kg.assortativity_oracle(),
        "conv_funnel": oracles.conv_funnel_oracle(),
        "mention_contexts": oracles_kg.mention_contexts_oracle(k=3),
        "shard_manifest": oracles_data.shard_manifest_oracle(n_shards=16),
        "predicate_reciprocity": oracles_kg.predicate_reciprocity_oracle(),
        "source_overlap": oracles_data.source_overlap_oracle(),
        "kg_novelty": oracles_kg.kg_novelty_oracle(),
        "length_curriculum": oracles_data.length_curriculum_oracle(),
        "bloom_decontam": oracles_data.bloom_decontam_oracle(
            n=3, mod=97, m=4096, k=3
        ),
        "turn_length_drift": oracles.turn_length_drift_oracle(),
        "ngram_coverage": oracles_data.ngram_coverage_oracle(k=10),
        "ntriples_roundtrip": oracles_kg.ntriples_roundtrip_oracle(),
        "dedup_rate_by_source": oracles_data.dedup_rate_by_source_oracle(),
        "cluster_size_hist": oracles_kg.cluster_size_hist_oracle(),
        "gap_hist": oracles.gap_hist_oracle(),
        "minhash_error_hist": oracles_data.minhash_error_hist_oracle(),
        "pack_efficiency": oracles_data.pack_efficiency_oracle(budget=2048),
        "source_language_mix": oracles_data.source_language_mix_oracle(),
        "role_vocab_divergence": oracles.role_vocab_divergence_oracle(),
        "quality_decile_yield": oracles_data.quality_decile_yield_oracle(),
        "simhash_hamming_hist": oracles_data.simhash_hamming_hist_oracle(),
        "decontam_rate_by_source": oracles_data.decontam_rate_by_source_oracle(
            n=3, mod=97
        ),
        "event_schema_profile": oracles.event_schema_profile_oracle(),
        "streaming_length_quantiles": oracles_data.length_quantiles_oracle(),
        "edge_confidence_profile": oracles_kg.edge_confidence_profile_oracle(),
        "provenance_integrity": oracles_kg.provenance_integrity_oracle(),
        "coverage_curve": oracles_data.coverage_curve_oracle(ks=(1, 5, 10, 20)),
        "filter_rate_by_source": oracles_data.filter_rate_by_source_oracle(),
    }
