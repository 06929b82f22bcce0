"""Stage DAG with checkpointing + per-partition lineage/metrics.

The north rule requires every stage to be resumable mid-pipeline with
per-partition lineage and metrics rows. Pattern (SURVEY.md §7 stage 7):

* each stage writes its output through a pluggable ``StageStore``
  (``plans/store.py``): parquet under ``<warehouse>/<stage>/data`` in the
  sandbox, an Iceberg table ``<catalog>.<db>.<stage>`` on a cluster —
  selected by ``SPARK_GRAFT_TABLE_FORMAT`` without touching stage code
* alongside it a ``_metrics`` table: one row per written partition
  (stage, partition_id, rows, stage_wall_sec, written_at)
* a manifest, committed last, that carries a fresh ``id`` and, as
  ``upstream``, the ``{need: id}`` map of the stages it read.

Declared inputs. ``stage(name, needs=...)`` names the stages the
function reads; ``needs=None`` means every earlier enabled stage (a
sequential chain). A need must be an earlier enabled stage, so the
declaration order is a topological order. The function's ``ctx`` holds
the run's ``inputs`` plus the outputs of its needs only, so an
undeclared read fails with ``KeyError`` instead of racing.

Concurrency. ``run()`` starts each stage in its own thread as soon as
all of its needs are committed in this run (resumed or written), so
independent stages overlap. The whole stage runs in that thread:
manifest probe, function, write, metrics, manifest commit. PySpark pins
each Python thread to its own JVM thread, so a store that opens a job
group on the stage's first call sees every job of that stage. When a
stage raises, no new stage starts; the running ones finish and commit,
then ``run()`` re-raises. ``results`` keep the declared order.

Lineage follows the declared inputs. A re-run resumes a stage only when
its manifest has an ``id`` and its ``upstream`` equals its needs' ids in
this run. A stage that re-runs gets a new id, so exactly its transitive
dependents re-run too, also after a crash part-way through that cascade:
a resume never serves a stage computed from an older upstream. A
manifest from before declared inputs (``upstream`` a single id) re-runs.
This gives crash-resume at stage granularity (the reference's
instance-cache analog, dygie/data/dataset_readers/dygie.py:194-203).

The stage's write is its only Spark job: the store takes the metrics rows
and the stage's row count from the metadata of the files it just wrote
(parquet footers, Iceberg's file list), not from a re-scan of the data.
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import InheritableThread

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
    """Stage DAG; each stage is (name, fn: dict[str,DataFrame] -> DataFrame).

    A stage sees the outputs of the stages it ``needs`` by name (all
    earlier stages by default). ``loss_weights``-style gating (reference
    dygie.py:227-254: modules with weight 0 are skipped) maps to the
    ``enabled`` flag per stage.
    """

    spark: SparkSession
    warehouse: str
    stages: list[tuple[str, Callable]] = field(default_factory=list)
    results: list[StageResult] = field(default_factory=list)
    store: StageStore | None = None  # default: make_store(spark, warehouse)
    #: stage name -> the stages it reads, as declared with ``stage()``
    needs: dict[str, tuple[str, ...]] = field(default_factory=dict, init=False)

    def __post_init__(self):
        if self.store is None:
            self.store = make_store(self.spark, self.warehouse)

    def stage(self, name: str, enabled: bool = True, needs=None):
        def deco(fn):
            if enabled:
                earlier = [n for n, _ in self.stages]
                deps = tuple(earlier if needs is None else needs)
                bad = [n for n in deps if n not in earlier]
                if bad:
                    raise ValueError(
                        f"stage {name!r} needs {bad}, which are not earlier "
                        "enabled stages"
                    )
                self.stages.append((name, fn))
                self.needs[name] = deps
            return fn

        return deco

    def run(self, inputs: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        inputs = dict(inputs or {})
        ctx: dict[str, DataFrame] = dict(inputs)
        ids: dict[str, str] = {}
        done: dict[str, StageResult] = {}
        errors: list[BaseException] = []
        waiting = dict(self.stages)
        running = 0
        cond = threading.Condition()

        def work(name, fn, own_ctx, upstream):
            nonlocal running
            try:
                df, sid, result = self._run_stage(name, fn, own_ctx, upstream)
            except BaseException as e:  # re-raised by run() below
                with cond:
                    errors.append(e)
            else:
                with cond:
                    ctx[name], ids[name], done[name] = df, sid, result
            finally:
                with cond:
                    running -= 1
                    cond.notify()

        try:
            with cond:
                while True:
                    ready = [] if errors else [
                        n for n in waiting if all(d in ids for d in self.needs[n])
                    ]
                    for name in ready:
                        fn, deps = waiting.pop(name), self.needs[name]
                        # the caller's Spark local properties (job group,
                        # scheduler pool) apply to the stage's jobs too
                        InheritableThread(
                            work,
                            name=f"stage-{name}",
                            args=(
                                name,
                                fn,
                                {**inputs, **{d: ctx[d] for d in deps}},
                                {d: ids[d] for d in deps},
                            ),
                        ).start()
                        running += 1
                    if not running:
                        break
                    cond.wait()
        finally:
            self.results.extend(done[n] for n, _ in self.stages if n in done)
        if errors:
            raise errors[0]
        return ctx

    def _run_stage(self, name, fn, ctx, upstream) -> tuple[DataFrame, str, StageResult]:
        # the stage probes its manifest first: the store's first call for
        # a stage opens that stage (e.g. its job group), before its
        # function builds anything
        t0 = time.time()
        manifest = self.store.manifest(name)
        if manifest and manifest.get("id") and manifest.get("upstream") == upstream:
            df = self.store.read(name)
            result = StageResult(
                name, self.store.location(name), manifest["rows"], time.time() - t0, resumed=True
            )
            return df, manifest["id"], result
        df = self.store.write(name, fn(ctx))
        n = self.store.write_metrics(name, time.time() - t0)
        # manifest commits LAST: a crash before this point leaves no
        # manifest naming these upstreams, so the resume re-runs the stage
        manifest = {
            "stage": name,
            "rows": n,
            "wall_sec": time.time() - t0,
            "id": uuid.uuid4().hex,
            "upstream": upstream,
        }
        self.store.commit_manifest(name, manifest)
        result = StageResult(name, self.store.location(name), n, time.time() - t0, resumed=False)
        return df, manifest["id"], result


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
    docs: list[DataFrame] = []
    docs_lock = threading.Lock()

    def _docs():
        # built on first use and shared by the curation stages: one read
        # (and one schema-inference job) per run, none on a full resume.
        # The lock keeps it one read when the stages start together
        with docs_lock:
            if not docs:
                docs.append(
                    TT.load_documents(spark, sf_dir).select(
                        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
                    )
                )
            return docs[0]

    @p.stage("doc_filter", enabled=with_curation, needs=())
    def _doc_filter(ctx):
        from dygiepp_spark.functions.text import composite_filter

        return composite_filter(_docs())

    @p.stage("doc_dedup", enabled=with_curation, needs=())
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

    @p.stage("doc_lm", enabled=lm_gate, needs=())
    def _doc_lm(ctx):
        # CCNet-style perplexity gate: keep only the requested tertiles
        # (e.g. head,middle) — the standard fluency cut a raw web corpus
        # gets before extraction ever sees it
        from dygiepp_spark.functions.text import lm_score

        return lm_score(_docs())

    @p.stage(
        "clean_docs",
        enabled=with_curation,
        needs=("doc_filter", "doc_dedup") + (("doc_lm",) if lm_gate else ()),
    )
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

    @p.stage("turns", needs=("clean_docs",) if with_curation else ())
    def _turns(ctx):
        if with_curation:
            return TT.turns_from_docs_df(ctx["clean_docs"], with_ts=False)
        return TT.turns_from_documents(spark, sf_dir, with_ts=False)

    @p.stage("mentions", needs=("turns",))
    def _mentions(ctx):
        return EX.detect_mentions(ctx["turns"])

    @p.stage("triples", needs=("turns",))
    def _triples(ctx):
        return EX.emit_triples(ctx["turns"])

    @p.stage("coref_clusters", enabled=with_coref, needs=("mentions",))
    def _clusters(ctx):
        return CO.coref_clusters(ctx["mentions"])

    @p.stage("canonical_entities", enabled=with_coref, needs=("coref_clusters",))
    def _canonical(ctx):
        return CO.canonicalize_clusters(ctx["coref_clusters"])

    @p.stage("kg_edges", needs=("turns",))
    def _edges(ctx):
        return GR.build_edges(ctx["turns"], TT.entity_dict(spark))

    @p.stage("kg_edges_agg", needs=("kg_edges",))
    def _edges_agg(ctx):
        return GR.aggregate_edges(ctx["kg_edges"])

    @p.stage("eval_exact", enabled=with_eval, needs=("triples", "turns"))
    def _eval(ctx):
        return KE.ie_eval(ctx["triples"], KE.gold_triples(ctx["turns"]), "exact")

    @p.stage("kg_pagerank", enabled=with_analytics, needs=("kg_edges",))
    def _pagerank(ctx):
        return GR.pagerank(ctx["kg_edges"], iterations=3)

    @p.stage("kg_triangles", enabled=with_analytics, needs=("kg_edges",))
    def _triangles(ctx):
        return GR.triangle_counts(ctx["kg_edges"])

    @p.stage("kg_negatives", enabled=with_analytics, needs=("kg_edges",))
    def _negatives(ctx):
        return GR.negative_samples(
            ctx["kg_edges"],
            TT.entity_dict(spark),
            k=3,
            dense_id=F.expr("cast(substring(entity_id, 2) as bigint)"),
        )

    @p.stage("kg_kcore", enabled=with_analytics, needs=("kg_edges",))
    def _kcore(ctx):
        # the TRUE core (peel to fixpoint); the `kcore` query runs the
        # same call against its DuckDB twin
        return GR.kcore_fixpoint(ctx["kg_edges"], k=2)

    @p.stage("kg_communities", enabled=with_analytics, needs=("kg_edges",))
    def _communities(ctx):
        # LPA propagated until labels stop changing; the
        # `lpa_communities` query runs the same call against its twin
        return GR.lpa_fixpoint(ctx["kg_edges"])

    @p.stage("kg_health", enabled=with_analytics, needs=("kg_edges",))
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
