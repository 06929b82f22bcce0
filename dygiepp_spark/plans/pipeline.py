"""Stage DAG with checkpointing + per-partition lineage/metrics.

The north rule requires every stage to be resumable mid-pipeline with
per-partition lineage and metrics rows. Pattern (SURVEY.md §7 stage 7):

* each stage writes its output through a pluggable ``StageStore``
  (``plans/store.py``): parquet under ``<warehouse>/<stage>/data`` in the
  sandbox, an Iceberg table ``<catalog>.<db>.<stage>`` on a cluster —
  selected by ``SPARK_GRAFT_TABLE_FORMAT`` without touching stage code
* alongside it a ``_metrics`` table: one row per output partition
  (stage, partition_id, rows, bytes-est, wall, written_at)
* a ``_SUCCESS``-gated manifest — a re-run skips stages whose manifest is
  present, up to the first stage that must run; that stage and every
  stage after it re-run, so a resume never serves a stage computed from
  an older upstream. This gives crash-resume at stage granularity (the
  reference's instance-cache analog,
  dygie/data/dataset_readers/dygie.py:194-203).

The metrics row collection uses ``spark_partition_id()`` + a groupBy —
no driver-side iteration over partitions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from dygiepp_spark.plans.store import StageStore, make_store


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_sec: float
    resumed: bool


@dataclass
class Pipeline:
    """Sequential stage DAG; each stage is (name, fn: dict[str,DataFrame] -> DataFrame).

    Stages see the outputs of all prior stages by name. ``loss_weights``-style
    gating (reference dygie.py:227-254: modules with weight 0 are skipped)
    maps to the ``enabled`` flag per stage.
    """

    spark: SparkSession
    warehouse: str
    stages: list[tuple[str, Callable]] = field(default_factory=list)
    results: list[StageResult] = field(default_factory=list)
    store: StageStore | None = None  # default: make_store(spark, warehouse)

    def __post_init__(self):
        if self.store is None:
            self.store = make_store(self.spark, self.warehouse)

    def stage(self, name: str, enabled: bool = True):
        def deco(fn):
            if enabled:
                self.stages.append((name, fn))
            return fn

        return deco

    def run(self, inputs: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        ctx: dict[str, DataFrame] = dict(inputs or {})
        # once a stage re-runs, every later stage's manifest may describe
        # an older upstream, so the rest of the DAG re-runs too
        rerun = False
        for name, fn in self.stages:
            t0 = time.time()
            manifest = None if rerun else self.store.manifest(name)
            if manifest is not None:
                ctx[name] = self.store.read(name)
                self.results.append(
                    StageResult(
                        name,
                        self.store.location(name),
                        manifest["rows"],
                        time.time() - t0,
                        resumed=True,
                    )
                )
                continue
            rerun = True
            out = fn(ctx)
            materialized = self.store.write(name, out)
            # per-partition lineage/metrics: one aggregate over the data,
            # keyed by physical partition id; the stage's row count is
            # observed on the same write instead of a separate count()
            rows = Observation()
            metrics = (
                materialized.groupBy(
                    F.spark_partition_id().alias("partition_id")
                )
                .agg(F.count(F.lit(1)).alias("rows"))
                .select(
                    F.lit(name).alias("stage"),
                    "partition_id",
                    "rows",
                    F.lit(time.time() - t0).alias("stage_wall_sec"),
                    F.current_timestamp().alias("written_at"),
                )
                .observe(rows, F.coalesce(F.sum("rows"), F.lit(0)).alias("n"))
            )
            self.store.write_metrics(name, metrics)
            n = rows.get["n"]
            # manifest commits LAST: a crash before this point leaves the
            # stage un-manifested and the resume re-runs it
            self.store.commit_manifest(
                name, {"stage": name, "rows": n, "wall_sec": time.time() - t0}
            )
            ctx[name] = materialized
            self.results.append(
                StageResult(
                    name,
                    self.store.location(name),
                    n,
                    time.time() - t0,
                    resumed=False,
                )
            )
        return ctx


def build_kg_pipeline(
    spark: SparkSession,
    warehouse: str,
    sf_dir: str,
    with_coref: bool = True,
    with_eval: bool = True,
    with_curation: bool = False,
    with_analytics: bool = False,
    curation_lm_buckets: tuple[str, ...] | None = None,
) -> Pipeline:
    """The full production DAG (M18/B4): transcript turns -> mentions ->
    triples -> coref clusters -> canonical entities -> KG edges -> edge
    rollup -> eval row, every stage checkpointed + resumable. This is the
    orchestration a cluster deployment schedules (reference analog: the
    training/predict/eval subprocess chain, scripts/train/predict.py);
    module gating via the ``enabled`` flags mirrors the reference's
    loss-weight gating (dygie.py:227-254).

    ``with_curation=True`` prepends the corpus-curation phase a raw web
    corpus needs before extraction: composite quality filter (keep
    verdict + reason bits), exact-dedup keeper selection, and PII
    scrubbing — the turn derivation then consumes the CURATED document
    set. Each curation stage checkpoints with the same per-partition
    lineage/metrics rows, so a curation re-run resumes like every other
    stage.

    ``with_analytics=True`` appends the graph-analytics phase over the
    materialized KG: integer PageRank, degree-ordered triangle counts,
    and filtered negative samples for embedding training — the three
    downstream tables a KG consumer schedules nightly.
    """
    from dygiepp_spark import tables as TT
    from dygiepp_spark.operators import coref as CO
    from dygiepp_spark.operators import extraction as EX
    from dygiepp_spark.operators import graph as GR
    from dygiepp_spark.operators import kg_eval as KE

    p = Pipeline(spark, warehouse)

    def _docs():
        return TT.load_documents(spark, sf_dir).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        )

    @p.stage("doc_filter", enabled=with_curation)
    def _doc_filter(ctx):
        from dygiepp_spark.functions.text import composite_filter

        return composite_filter(_docs())

    @p.stage("doc_dedup", enabled=with_curation)
    def _doc_dedup(ctx):
        from dygiepp_spark.operators.dedup import exact_dedup_groups

        return exact_dedup_groups(_docs())

    if curation_lm_buckets is not None:
        # fail loudly on a typo: a bucket name that matches nothing would
        # otherwise silently empty the entire curated corpus
        curation_lm_buckets = tuple(
            b.strip() for b in curation_lm_buckets if b.strip()
        )
        bad = set(curation_lm_buckets) - {"head", "middle", "tail"}
        if bad or not curation_lm_buckets:
            raise ValueError(
                f"curation_lm_buckets must be drawn from head/middle/tail, "
                f"got {sorted(bad) or '(empty)'}"
            )
        if not with_curation:
            raise ValueError(
                "curation_lm_buckets requires with_curation=True"
            )
    lm_gate = bool(with_curation and curation_lm_buckets)

    @p.stage("doc_lm", enabled=lm_gate)
    def _doc_lm(ctx):
        # CCNet-style perplexity gate: keep only the requested tertiles
        # (e.g. head,middle) — the standard fluency cut a raw web corpus
        # gets before extraction ever sees it
        from dygiepp_spark.functions.text import lm_score

        return lm_score(_docs())

    @p.stage("clean_docs", enabled=with_curation)
    def _clean_docs(ctx):
        from dygiepp_spark.functions.privacy import scrub_col

        kept = ctx["doc_filter"].filter(F.col("keep")).select("doc_id")
        keepers = ctx["doc_dedup"].select(
            F.col("canonical_id").alias("doc_id")
        )
        out = _docs().join(kept, "doc_id").join(keepers, "doc_id")
        if lm_gate:
            fluent = (
                ctx["doc_lm"]
                .filter(F.col("bucket").isin(*curation_lm_buckets))
                .select("doc_id")
            )
            out = out.join(fluent, "doc_id")
        return out.select("doc_id", scrub_col(F.col("text")).alias("text"))

    @p.stage("turns")
    def _turns(ctx):
        if with_curation:
            return TT.turns_from_docs_df(ctx["clean_docs"], with_ts=False)
        return TT.turns_from_documents(spark, sf_dir, with_ts=False)

    @p.stage("mentions")
    def _mentions(ctx):
        return EX.detect_mentions(ctx["turns"])

    @p.stage("triples")
    def _triples(ctx):
        return EX.emit_triples(ctx["turns"])

    @p.stage("coref_clusters", enabled=with_coref)
    def _clusters(ctx):
        return CO.coref_clusters(ctx["mentions"])

    @p.stage("canonical_entities", enabled=with_coref)
    def _canonical(ctx):
        return CO.canonicalize_clusters(ctx["coref_clusters"])

    @p.stage("kg_edges")
    def _edges(ctx):
        return GR.link_edges(ctx["mentions"], TT.entity_dict(spark))

    @p.stage("kg_edges_agg")
    def _edges_agg(ctx):
        return GR.aggregate_edges(ctx["kg_edges"])

    @p.stage("eval_exact", enabled=with_eval)
    def _eval(ctx):
        return KE.ie_eval(ctx["triples"], KE.gold_triples(ctx["turns"]), "exact")

    @p.stage("kg_pagerank", enabled=with_analytics)
    def _pagerank(ctx):
        return GR.pagerank(ctx["kg_edges"], iterations=3)

    @p.stage("kg_triangles", enabled=with_analytics)
    def _triangles(ctx):
        return GR.triangle_counts(ctx["kg_edges"])

    @p.stage("kg_negatives", enabled=with_analytics)
    def _negatives(ctx):
        return GR.negative_samples(
            ctx["kg_edges"],
            TT.entity_dict(spark),
            k=3,
            dense_id=F.expr("cast(substring(entity_id, 2) as bigint)"),
        )

    @p.stage("kg_kcore", enabled=with_analytics)
    def _kcore(ctx):
        # production runs the TRUE core (peel to fixpoint), not the
        # bounded-round parity twin
        return GR.kcore_fixpoint(ctx["kg_edges"], k=2)

    @p.stage("kg_communities", enabled=with_analytics)
    def _communities(ctx):
        # same fixpoint-vs-parity-twin split as k-core: production LPA
        # propagates until labels stop changing
        return GR.lpa_fixpoint(ctx["kg_edges"])

    @p.stage("kg_health", enabled=with_analytics)
    def _health(ctx):
        # the one-stop graph-shape report the run summary carries:
        # degree histogram + assortativity + per-predicate reciprocity,
        # unioned into a tall (metric, key, value) frame so a single
        # checkpointed output feeds dashboards
        edges = ctx["kg_edges"]
        hist = GR.degree_hist(edges).select(
            F.lit("degree_hist").alias("metric"),
            F.col("deg").cast("string").alias("key"),
            F.col("n_nodes").cast("double").alias("value"),
        )
        asrt = GR.assortativity(edges).select(
            F.lit("assortativity").alias("metric"),
            F.lit("r").alias("key"),
            F.col("r").alias("value"),
        )
        recip = GR.predicate_reciprocity(edges).select(
            F.lit("reciprocity").alias("metric"),
            F.col("pred").alias("key"),
            F.col("reciprocity").alias("value"),
        )
        return hist.unionByName(asrt).unionByName(recip)

    return p
