"""KG materialization: nodes/edges tables with per-partition lineage.

Output data model (SURVEY.md §1.3):

* ``nodes(entity_id, canonical_text, type)``
* ``edges(subj_id, pred, obj_id, conv_id, conf, provenance)``

At production these are Iceberg tables written with ``MERGE``/append;
in the sandbox we write parquet (the writer abstracts over both —
see dygiepp_spark.plans.pipeline for the checkpoint/lineage machinery).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from dygiepp_spark.operators.extraction import _pair_rows, detect_mentions
from dygiepp_spark.operators.linking import link_mentions
from dygiepp_spark.tables import RELATION_MAX_DIST


def _link_arg(pairs: DataFrame, arg: str, entity_dict: DataFrame, out: str) -> DataFrame:
    """``pairs`` with ``arg`` replaced by ``out``, the id
    :func:`link_mentions` gives ``arg`` as a mention surface."""
    return (
        link_mentions(pairs.withColumnRenamed(arg, "surface"), entity_dict)
        .withColumnRenamed("entity_id", out)
        .drop("surface", "canonical_text", "type")
    )


def build_edges(turns: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Relation pairs with both endpoints resolved to canonical entity ids:
    (subj_id, pred, obj_id, conv_id, turn_idx, conf, provenance).

    The pairs are the unbeamed form of the triples' generator
    (``extraction._pair_rows``), built row-locally from each turn's
    entity positions; each argument is then linked by a broadcast lookup
    against the dictionary. So the plan has no shuffle and no join other
    than the two lookups, and a batch of turns (the streaming ``kg_agg``
    sink) runs the same plan.
    """
    pairs = _pair_rows(turns, RELATION_MAX_DIST, beam=False)
    pairs = _link_arg(pairs, "arg0", entity_dict, "subj_id")
    pairs = _link_arg(pairs, "arg1", entity_dict, "obj_id")
    return pairs.select(
        "subj_id",
        F.col("label").alias("pred"),
        "obj_id",
        "conv_id",
        "turn_idx",
        "conf",
        F.concat_ws(
            ":", F.lit("extract"), F.col("conv_id"), F.col("turn_idx"),
            F.col("s1"), F.col("s2"),
        ).alias("provenance"),
    )


def build_nodes(turns: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Distinct canonical nodes referenced by any mention."""
    mentions = detect_mentions(turns)
    linked = link_mentions(mentions, entity_dict)
    return (
        linked.groupBy("entity_id")
        .agg(
            F.min("canonical_text").alias("canonical_text"),
            F.min("type").alias("type"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )


def aggregate_edges(edges: DataFrame) -> DataFrame:
    """Roll per-occurrence edges up to distinct (subj, pred, obj) with
    support counts and max confidence — the graph-level dedup that turns
    occurrence streams into KG edges."""
    return edges.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("support"),
        F.max("conf").alias("max_conf"),
        F.count_distinct("conv_id").alias("n_convs"),
    )


#: integer PageRank quantization: ranks are micro-units of this scale
PR_SCALE = 1_000_000
#: damping split in integer percent (0.85 -> 85/100)
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100


def pagerank(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Integer-quantized PageRank over the KG edge list.

    Input: any frame with ``subj_id``/``obj_id`` columns (e.g.
    :func:`aggregate_edges` output); multi-predicate parallel edges are
    collapsed to DISTINCT (src, dst) so out-degree is well defined.

    Fixed-point arithmetic keeps every engine bit-identical (no float
    summation order): rank lives in micro-units (``PR_SCALE``), each
    iteration computes

        contrib(u->v) = (rank(u) * 85) DIV (100 * outdeg(u))
        rank'(v)      = 0.15 * PR_SCALE + SUM contrib over in-edges

    with BIGINT floor division. Dangling-node mass is dropped, not
    redistributed (the common web-graph simplification; documented
    divergence from the normalized textbook formulation — ranks are
    comparable WITHIN a run, which is what ranking consumers use).

    Scale: each iteration is one broadcast-or-shuffle join of the rank
    vector onto edges (rank rows are (id, bigint) — tiny relative to
    edges) plus one groupBy(dst) SUM with map-side partial aggregation,
    so a celebrity node's in-degree skew collapses map-side. O(iters)
    shuffles total, the canonical distributed PR shape. The edge frame
    is the loop invariant — persist it once (callers at scale:
    ``edges.persist()``); the sandbox keeps it lazy.
    """
    e = edges.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = F.lit(PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN).cast("bigint")
    ranks = nodes.select("node_id", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node_id"),
                # SQL `div` = exact BIGINT division (positive operands, so
                # truncation == floor == DuckDB's `//`)
                F.expr(
                    f"(rank * {PR_DAMP_NUM}) div "
                    f"(cast({PR_DAMP_DEN} as bigint) * outdeg)"
                ).alias("c"),
            )
        )
        summed = contrib.groupBy("node_id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node_id", "left").select(
            "node_id",
            (base + F.coalesce(F.col("s"), F.lit(0).cast("bigint"))).alias("rank"),
        )
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected KG graph
    (node_id, n_triangles; nodes in >= 1 triangle).

    Degree-ordered orientation — the formulation that survives scale-free
    skew: every undirected edge is oriented from its lower-(degree, id)
    endpoint to its higher one, so a celebrity node (degree 10^6) has huge
    IN-degree but tiny out-degree, and the wedge self-join (out-neighbor
    pairs per source) fans out on low-degree vertices only: total wedge
    work is sum of out-deg^2 = O(m^1.5) instead of sum of deg^2, which is
    quadratic on a star. Each triangle materializes exactly once (its
    lowest-order corner is the wedge pivot) and is closed by one hash join
    against the oriented edge list, then exploded to its three corners for
    the per-node rollup.

    Orientation ties (equal degree) break on id, so the order is total
    and both engines agree exactly.
    """
    und = (
        edges.select(
            F.least("subj_id", "obj_id").alias("lo"),
            F.greatest("subj_id", "obj_id").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("v"))
        .unionByName(und.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d_lo = deg.select(F.col("v").alias("lo"), F.col("deg").alias("dlo"))
    d_hi = deg.select(F.col("v").alias("hi"), F.col("deg").alias("dhi"))
    lt = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        und.join(d_lo, "lo")
        .join(d_hi, "hi")
        .select(
            F.when(lt, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(lt, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
            F.when(lt, F.col("dhi")).otherwise(F.col("dlo")).alias("ddst"),
        )
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    # wedge (u; v, w) with v before w in the same (deg, id) order
    wedges = a.join(
        b,
        on=[
            F.col("a.src") == F.col("b.src"),
            (F.col("a.ddst") < F.col("b.ddst"))
            | (
                (F.col("a.ddst") == F.col("b.ddst"))
                & (F.col("a.dst") < F.col("b.dst"))
            ),
        ],
    ).select(
        F.col("a.src").alias("u"), F.col("a.dst").alias("v"), F.col("b.dst").alias("w")
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    corners = (
        tris.select(F.col("u").alias("node_id"))
        .unionByName(tris.select(F.col("v").alias("node_id")))
        .unionByName(tris.select(F.col("w").alias("node_id")))
    )
    return corners.groupBy("node_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def negative_samples(
    edges: DataFrame,
    entities: DataFrame,
    k: int = 3,
    dense_id: Column | None = None,
) -> DataFrame:
    """Tail-corrupted negative triples for KG-embedding training (the
    TransE/DistMult data-prep step): for each distinct positive
    (subj, pred, obj), up to ``k`` candidates with the object replaced by
    a deterministically hash-picked entity; candidates that collide with
    a TRUE positive are dropped (filtered negative sampling).

    Determinism (bit-identical in the DuckDB twin): replacement index =
    hash60("i|subj|pred|obj") mod |entities| over the entity dictionary
    ranked by id.

    ``dense_id`` is the web-scale path: a Column expression over the
    entity frame that already yields the dense 0..n-1 rank (e.g. a dense
    surrogate-id column, or ``cast(substring(entity_id, 2) as bigint)``
    for the ``E{ix:03d}`` dictionary here, whose lexicographic id order
    IS the numeric order). With it the global ``row_number`` window —
    a single-partition sort of the dim table — disappears entirely; the
    output is identical whenever ``dense_id`` matches the id-ranked
    position, so the oracle is shared. Without it the ranked fallback
    runs; that window is on the SMALL side only (fine while the
    dictionary broadcasts, wrong once it stops fitting).

    Scale: positives explode k-fold (narrow), one broadcast join picks
    the replacement, one anti-join against the positive set filters
    collisions (both sides keyed on the triple — no skew beyond what the
    KG itself has).
    """
    from dygiepp_spark.functions.hashing import hash60

    ents = entities.select("entity_id").distinct()
    if dense_id is not None:
        ranked = ents.select("entity_id", dense_id.cast("bigint").alias("rk"))
    else:
        from pyspark.sql import Window

        ranked = ents.select(
            "entity_id",
            (F.row_number().over(Window.orderBy("entity_id")) - 1).alias("rk"),
        )
    nct = ents.agg(F.count(F.lit(1)).alias("_n"))
    pos = edges.select("subj_id", "pred", "obj_id").distinct()
    cand = (
        pos.select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("sample_ix")
        )
        .crossJoin(F.broadcast(nct))
        .withColumn(
            "rk",
            hash60(
                F.concat_ws(
                    "|",
                    F.col("sample_ix").cast("string"),
                    "subj_id",
                    "pred",
                    "obj_id",
                )
            )
            % F.col("_n"),
        )
    )
    neg = (
        cand.join(
            F.broadcast(ranked.withColumnRenamed("entity_id", "neg_obj")), "rk"
        )
        .select("subj_id", "pred", F.col("neg_obj"), "sample_ix")
    )
    return neg.join(
        pos.withColumnRenamed("obj_id", "neg_obj"),
        ["subj_id", "pred", "neg_obj"],
        "left_anti",
    )


#: runaway bound of :func:`kcore_fixpoint`; its DuckDB twin unrolls
#: exactly this many peel rounds
KCORE_MAX_ROUNDS = 200


def _peel(sym: DataFrame, alive: DataFrame, k: int) -> DataFrame:
    """One peel round of :func:`kcore_fixpoint`: the degree of every
    ``alive`` node within the alive subgraph, kept where it is >= k —
    (node_id, deg). Scale: one degree aggregation (map-side combinable)
    plus two semi-joins of the edge list against the alive set, which is
    (id) rows and broadcastable long after the first peel."""
    # each round references `alive` twice (both semi-joins); without
    # lineage truncation the logical plan DOUBLES per round — 2^rounds
    # copies of the base subtree (the same fix as kg_components'
    # per-round checkpoint; surfaced by the hypothesis peel test). Under
    # AQE the pin runs the previous round's shuffle stages when it is called
    alive = alive.localCheckpoint(eager=False)
    live_edges = sym.join(
        alive.withColumnRenamed("node_id", "lo"), "lo", "left_semi"
    ).join(alive.withColumnRenamed("node_id", "hi"), "hi", "left_semi")
    deg = live_edges.groupBy(F.col("lo").alias("node_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return deg.filter(F.col("deg") >= k)


def kcore_fixpoint(
    edges: DataFrame, k: int = 2, max_rounds: int = KCORE_MAX_ROUNDS
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop nodes with degree
    < k in the surviving subgraph until no node drops; output the
    survivors (node_id, deg). At fixpoint the returned degrees ARE the
    in-core degrees — the alive set that produced them no longer changes.

    Convergence is detected by counting the alive set each round (one
    tiny action on an (id)-only frame); each round is the same
    lineage-truncated :func:`_peel`, so the plan stays flat no matter the
    peel depth. ``max_rounds`` is a fail-loud runaway bound (a graph
    peels at most |V| rounds; real KGs converge in tens): exceeding it
    raises instead of silently returning a non-core. Because a converged
    peel is stable, the DuckDB twin (``oracles_kg.kcore_oracle``) unrolls
    ``KCORE_MAX_ROUNDS`` rounds and gets the same rows.
    """
    sym = _sym_edges(edges).localCheckpoint(eager=False)
    alive = sym.select(F.col("lo").alias("node_id")).distinct()
    n_alive = alive.count()
    for _ in range(max_rounds):
        survivors = _peel(sym, alive, k)
        alive = survivors.select("node_id")
        n_next = alive.count()
        if n_next == n_alive:
            # nothing dropped: deg was computed over exactly this alive
            # set, so it is the in-core degree
            return survivors.localCheckpoint(eager=False)
        n_alive = n_next
        if n_alive == 0:
            return survivors.localCheckpoint(eager=False)
    raise RuntimeError(
        f"kcore_fixpoint did not converge within {max_rounds} rounds "
        f"({n_alive} nodes still alive) — raise max_rounds"
    )


#: fixed-point scale for the per-edge weight share w/W (micro-units)
SHARE_SCALE = 1_000_000


def pagerank_weighted(agg_edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Support-weighted PageRank over :func:`aggregate_edges` output:
    contributions split proportionally to integer edge weight (support
    summed across predicates) instead of uniformly. The weight fraction
    is quantized ONCE per edge into fixed-point micro-units,

        share(u->v) = (w_uv * SHARE_SCALE) DIV W_u          (<= SHARE_SCALE)
        contrib(u->v) = (((rank(u) * share) DIV SHARE_SCALE)
                          * 85) DIV 100

    with W_u = total out-weight of u, all BIGINT floor division (same
    fixed-point contract as :func:`pagerank`; weights are exact counts so
    no float enters). Bounding the multiplier at SHARE_SCALE keeps the
    intermediate product independent of the weight magnitude: the old
    ``rank * 85 * w`` form silently wraps in Spark (non-ANSI) on heavy
    support weights while DuckDB raises — a bit-parity divergence.
    Overflow bounds, documented not silent: safe while every
    ``rank < 2**63 / SHARE_SCALE`` (~9.2e12 micro-units, i.e. ~9.2M
    units of rank mass on a single node) and every ``w < 2**63 /
    SHARE_SCALE``; beyond that shrink SHARE_SCALE or move to decimal.
    Precision cost: share truncates w/W at 1e-6 relative — invisible to
    the ranking consumers this feeds. Same per-iteration shape: one rank
    join onto the weighted edge list + one map-side-combinable dst SUM;
    the share column is computed outside the loop, so the per-iteration
    work drops the outw join entirely.
    """
    e = (
        agg_edges.groupBy(
            F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        )
        .agg(F.sum("support").cast("bigint").alias("w"))
    )
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    shares = e.join(outw, "src").select(
        "src",
        "dst",
        F.expr(f"(w * {SHARE_SCALE}) div outw").alias("share"),
    )
    base = F.lit(PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN).cast("bigint")
    ranks = nodes.select("node_id", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(iterations):
        contrib = (
            shares.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .select(
                F.col("dst").alias("node_id"),
                # SQL `div` = exact BIGINT division (positive operands, so
                # truncation == floor == DuckDB's `//`)
                F.expr(
                    f"(((rank * share) div {SHARE_SCALE}) * {PR_DAMP_NUM}) "
                    f"div {PR_DAMP_DEN}"
                ).alias("c"),
            )
        )
        summed = contrib.groupBy("node_id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node_id", "left").select(
            "node_id",
            (base + F.coalesce(F.col("s"), F.lit(0).cast("bigint"))).alias("rank"),
        )
    return ranks


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge list symmetrized to (lo, hi) in both
    directions, self-loops dropped — the shared input frame of k-core
    peeling, the label-propagation family (LPA, components) and the
    degree reports. A lazy plan: the driver loops that re-read it every
    round pin it themselves — under AQE even a lazy pin runs the
    distinct's shuffle when it is called, so only they pay for it."""
    und = (
        edges.select(
            F.least("subj_id", "obj_id").alias("lo"),
            F.greatest("subj_id", "obj_id").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    return und.unionByName(
        und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )


def _self_labels(sym: DataFrame) -> DataFrame:
    return sym.select(F.col("lo").alias("node_id")).distinct().select(
        "node_id", F.col("node_id").alias("label")
    )


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous round of :func:`lpa_fixpoint`: every node adopts
    its neighbors' majority label, ties toward the smallest label (total
    order — the determinism the DuckDB twin depends on).

    Scale: ONE shuffle — edges join labels on src (label frame is
    (node, label) rows), then a (dst, label)-keyed count agg with
    map-side partial aggregation (a celebrity node's million identical
    neighbor labels collapse before the shuffle), then a per-dst
    row_number cut."""
    from pyspark.sql import Window

    w = Window.partitionBy("node_id").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    msgs = sym.join(
        labels.withColumnRenamed("node_id", "lo"), "lo"
    ).select(F.col("hi").alias("node_id"), "label")
    votes = msgs.groupBy("node_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    new = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("node_id", F.col("label").alias("new_label"))
    )
    return labels.join(new, "node_id", "left").select(
        "node_id", F.coalesce("new_label", "label").alias("label")
    )


#: runaway bound of :func:`kg_components`: pointer doubling covers a
#: diameter of about 2^rounds, so a graph that needs more does not fit
COMPONENTS_MAX_ROUNDS = 20


def kg_components(edges: DataFrame) -> DataFrame:
    """Connected components over the undirected KG: (node_id, label) with
    label the smallest node id reachable — the package's one
    connected-components loop. Each round does a neighbor-min hop plus a
    pointer-doubling hop, so the label distance covered doubles per
    round: O(log D) rounds for diameter D. The loop exits on a fixpoint
    count and localCheckpoints each round to truncate lineage; it raises
    rather than return a split component if ``COMPONENTS_MAX_ROUNDS``
    rounds do not reach the fixpoint.

    Scale: every join is keyed on a single id with map-side combinable
    min() aggregates. A hub is one hot neighbor-min groupBy key, which
    AQE skew-split handles; the pointer-doubling hop is always 1:1.
    """
    sym = _sym_edges(edges).localCheckpoint(eager=False)
    labels = _self_labels(sym)
    for _ in range(COMPONENTS_MAX_ROUNDS):
        # neighbor-min hop: label(x) <- min(label(x), min label(neighbor))
        nb = (
            sym.join(labels.withColumnRenamed("node_id", "lo"), "lo")
            .groupBy(F.col("hi").alias("node_id"))
            .agg(F.min("label").alias("_nb"))
        )
        stepped = labels.join(nb, "node_id", "left").select(
            "node_id", F.least("label", F.coalesce("_nb", "label")).alias("label")
        )
        # pointer-doubling hop: label(x) <- min(label(x), label(label(x)))
        parent = stepped.select(
            F.col("node_id").alias("_pid"), F.col("label").alias("_plabel")
        )
        doubled = (
            stepped.join(parent, stepped["label"] == parent["_pid"], "left")
            .select(
                "node_id",
                F.least("label", F.coalesce("_plabel", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), "node_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = doubled
        if changed == 0:
            return labels
    raise RuntimeError(
        f"kg_components did not converge within {COMPONENTS_MAX_ROUNDS} "
        f"rounds ({changed} labels still changing)"
    )


#: livelock guard of :func:`lpa_fixpoint`; its DuckDB twin unrolls
#: exactly this many rounds
LPA_MAX_ROUNDS = 50


def lpa_fixpoint(edges: DataFrame, max_rounds: int = LPA_MAX_ROUNDS) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected KG: every node starts labeled with its own id; each round
    (:func:`_lpa_round`) every node adopts the label carried by the most
    of its neighbors, ties broken toward the SMALLEST label — a
    deterministic total order, so the result is bit-identical on any
    engine (the GraphX/GraphFrames LPA is the same recurrence with random
    tie breaks). Output (node_id, label).

    Propagation stops when the label frame stops changing (a
    subtract-count probe per round), bounded by ``max_rounds`` as a
    livelock guard — synchronous LPA can oscillate 2-cycles on bipartite
    structures, which the guard absorbs by returning the current frame.
    Stable labels stay stable, so the result equals exactly
    ``max_rounds`` synchronous rounds; the DuckDB twin
    (``oracles_kg.lpa_oracle``) unrolls ``LPA_MAX_ROUNDS`` of them. The
    label frame is localCheckpoint'd per round to keep the plan linear.
    """
    sym = _sym_edges(edges).localCheckpoint(eager=False)
    labels = _self_labels(sym)
    for _ in range(max_rounds):
        labels = labels.localCheckpoint(eager=False)
        nxt = _lpa_round(sym, labels).localCheckpoint(eager=False)
        changed = (
            nxt.join(
                labels.withColumnRenamed("label", "old"), "node_id"
            )
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    return labels


def degree_hist(edges: DataFrame) -> DataFrame:
    """Degree distribution report over the undirected KG: one row per
    distinct degree with its node count and the power-of-two bin
    ``log2_bin = floor(log2(deg))`` (length(bin(deg)) - 1 — the same
    engine-portable integer log the LM scorers use). The first sanity
    check any graph job runs before choosing a skew strategy.

    Scale: degree is one map-side-combinable agg over the symmetrized
    edges; the histogram is an agg over the (node, deg) frame; output is
    bounded by the distinct-degree domain — tiny at any graph size.
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("lo").alias("node_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(
            "deg",
            "n_nodes",
            (F.length(F.bin(F.col("deg"))) - 1).cast("bigint").alias(
                "log2_bin"
            ),
        )
    )


def link_prediction(
    edges: DataFrame, max_center_degree: int = 64, min_common: int = 2
) -> DataFrame:
    """Common-neighbor link-prediction features over the undirected KG —
    the classic missing-edge candidate generator (Liben-Nowell & Kleinberg
    2003): for every NON-adjacent node pair sharing >= ``min_common``
    common neighbors, emit

    * ``cn`` — common-neighbor count (through non-hub centers, see below),
    * ``deg_a`` / ``deg_b`` — endpoint degrees,
    * ``pref_attach`` — preferential attachment ``deg_a * deg_b``,
    * ``jaccard_den`` — ``deg_a + deg_b - cn``. NOTE: degrees count ALL
      neighbors but ``cn`` only counts non-hub common neighbors (see
      the cap below), so when a pair shares an excluded hub this is an
      UPPER bound on the neighbor-union size, not the exact union —
      cn/jaccard_den then under-states Jaccard on hub-connected pairs
      twice (smaller numerator, larger denominator). Exact whenever no
      common neighbor was capped.

    All columns are BIGINT — bit-portable across engines, no float
    summation anywhere.

    Scale: the wedge self-join fans out quadratically in the CENTER
    node's degree, so hub centers (degree > ``max_center_degree``) are
    excluded from wedge generation (a capped expansion). A hub is the weakest CN
    evidence anyway (everyone shares the celebrity neighbor); production
    CN pipelines routinely drop or downweight them. Documented recall
    tradeoff: ``cn`` counts common neighbors whose OWN degree <= cap, and
    a pair connected only through hubs is not emitted. Everything else is
    two map-side-combinable aggs plus one anti-join against the edge
    list; wedge work is bounded by cap * m.
    """
    if max_center_degree < 1:
        raise ValueError("max_center_degree must be >= 1")
    sym = _sym_edges(edges)
    und = sym.filter(F.col("lo") < F.col("hi"))
    deg = sym.groupBy(F.col("lo").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    centers = deg.filter(F.col("deg") <= max_center_degree).select("v")
    # wedges through non-hub centers; n_a < n_b so each pair counts once
    a = sym.select(F.col("lo").alias("v"), F.col("hi").alias("na"))
    b = sym.select(F.col("lo").alias("v"), F.col("hi").alias("nb"))
    wedges = (
        a.join(centers, "v", "left_semi")
        .join(b, "v")
        .filter(F.col("na") < F.col("nb"))
    )
    cn = (
        wedges.groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= min_common)
    )
    nonadj = cn.join(
        und.select(F.col("lo").alias("na"), F.col("hi").alias("nb")),
        ["na", "nb"],
        "left_anti",
    )
    d_a = deg.select(F.col("v").alias("na"), F.col("deg").alias("deg_a"))
    d_b = deg.select(F.col("v").alias("nb"), F.col("deg").alias("deg_b"))
    return (
        nonadj.join(d_a, "na")
        .join(d_b, "nb")
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "cn",
            "deg_a",
            "deg_b",
            (F.col("deg_a") * F.col("deg_b")).alias("pref_attach"),
            (F.col("deg_a") + F.col("deg_b") - F.col("cn")).alias(
                "jaccard_den"
            ),
        )
    )


def random_walks(
    edges: DataFrame, length: int = 4, walks_per_node: int = 2
) -> DataFrame:
    """DeepWalk-style walk corpus over the undirected KG — the training
    data for graph embeddings (Perozzi et al. 2014), emitted in long
    format ``(node_id, walk_id, step, visit)`` with ``walks_per_node``
    walks of ``length`` hops from every node.

    Determinism (the property a reproducible data pipeline needs and
    sampled walks lack): the next hop from ``cur`` at step ``t`` of walk
    ``w`` is the neighbor minimizing ``md5(cur:t:w:neighbor)`` — a
    keyed-hash argmin, so the walk corpus is a pure function of the
    graph, bit-identical across engines, partitionings, and reruns.
    Md5 spreads mass like a uniform pick; re-keying by (t, w) decorrelates
    steps and walks. The symmetrized simple graph has no dead ends (every
    node in it has >= 1 neighbor), so walks are always full length.

    Scale: each step is ONE shuffle join of the frontier onto the edge
    list plus a map-side-combinable ``min_by`` agg, so a celebrity
    node's fan-out collapses map-side — O(length) shuffles total, the
    same loop shape as pagerank. Frontier is localCheckpoint-truncated
    per step (the iterative-plan-growth lesson; under AQE the pin runs
    that step's shuffles when it is called).
    """
    if length < 0 or walks_per_node < 1:
        raise ValueError("length must be >= 0, walks_per_node >= 1")
    sym = _sym_edges(edges).localCheckpoint(eager=False)
    start = (
        sym.select(F.col("lo").alias("node_id"))
        .distinct()
        .select(
            "node_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("walk_id"),
        )
    )
    frontier = start.select(
        "node_id", "walk_id", F.col("node_id").alias("visit")
    )
    out = frontier.select(
        "node_id", "walk_id", F.lit(0).cast("bigint").alias("step"), "visit"
    )
    for t in range(1, length + 1):
        nxt = (
            frontier.join(sym, frontier.visit == sym.lo)
            .groupBy("node_id", "walk_id")
            .agg(
                F.expr(
                    f"min_by(hi, md5(concat(visit, ':', '{t}', ':', "
                    "cast(walk_id as string), ':', hi)))"
                ).alias("visit")
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            nxt.select(
                "node_id", "walk_id",
                F.lit(t).cast("bigint").alias("step"), "visit",
            )
        )
        frontier = nxt
    return out


def walk_skipgrams(
    edges: DataFrame,
    length: int = 4,
    walks_per_node: int = 2,
    window: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence counts over the :func:`random_walks`
    corpus — the actual training input a DeepWalk/node2vec embedding
    fit consumes: ``(center, context, n)`` for every ordered pair of
    walk positions within ``window`` steps of each other (both
    directions, center != position pairs with step distance 0 excluded
    by construction since a walk visits one node per step).

    Scale: the pair join is keyed on (node_id, walk_id) — each side of
    a walk is ``length + 1`` rows, so per-key fan-out is bounded by
    ``(length+1) * (2*window)`` regardless of graph size or skew, and
    the count rollup is map-side combinable on the (center, context)
    key. The walk corpus itself is O(length) shuffles (see
    random_walks); everything after is one bounded self-join + one agg.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    walks = random_walks(edges, length=length, walks_per_node=walks_per_node)
    a = walks.select(
        "node_id", "walk_id",
        F.col("step").alias("s1"), F.col("visit").alias("center"),
    )
    b = walks.select(
        "node_id", "walk_id",
        F.col("step").alias("s2"), F.col("visit").alias("context"),
    )
    pairs = a.join(b, ["node_id", "walk_id"]).filter(
        (F.col("s1") != F.col("s2"))
        & (F.abs(F.col("s1") - F.col("s2")) <= window)
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )


def schema_profile(
    edges: DataFrame, nodes: DataFrame
) -> DataFrame:
    """Ontology co-occurrence profile of the KG — the schema-induction
    report: one row per ``(subj_type, pred, obj_type)`` signature with
    its edge count and distinct-conversation support. This is the table
    a KG curator reads to find type-inconsistent predicates (a
    ``works_for(TOOL, PERSON)`` cell flags linker or extractor drift)
    and to seed predicate domain/range constraints.

    Scale: two joins of the node dim (entity_id -> type; vocabulary-
    sized, AQE broadcasts it) onto the edge stream plus one map-side-
    combinable rollup over the tiny type x pred x type domain.
    """
    t = nodes.select("entity_id", "type")
    s = t.select(
        F.col("entity_id").alias("subj_id"), F.col("type").alias("subj_type")
    )
    o = t.select(
        F.col("entity_id").alias("obj_id"), F.col("type").alias("obj_type")
    )
    return (
        edges.join(F.broadcast(s), "subj_id")
        .join(F.broadcast(o), "obj_id")
        .groupBy("subj_type", "pred", "obj_type")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count_distinct("conv_id").alias("n_convs"),
        )
    )


def hot_entities(turns: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Entity-skew pre-flight report: per canonical entity, total
    mentions, distinct conversations, the hottest single conversation's
    mention count, and its share of the total — the table that decides
    whether an entity-keyed join downstream needs salting or an AQE
    skew hint (a 'celebrity' entity shows a huge ``n_mentions`` spread
    over many convs; a 'burst' entity concentrates in one).

    Scale: one (entity, conv)-keyed count then one entity-keyed rollup,
    both map-side combinable; ``top_share`` is a single exact-integer
    division (IEEE-identical everywhere).
    """
    mentions = detect_mentions(turns)
    linked = link_mentions(mentions, entity_dict)
    per_conv = linked.groupBy("entity_id", "conv_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_conv.groupBy("entity_id")
        .agg(
            F.sum("n").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_convs"),
            F.max("n").alias("top_conv_n"),
        )
        .select(
            "entity_id", "n_mentions", "n_convs", "top_conv_n",
            (
                F.col("top_conv_n").cast("double")
                / F.col("n_mentions").cast("double")
            ).alias("top_share"),
        )
    )


def entity_pmi(
    turns: DataFrame,
    entity_dict: DataFrame,
    min_count: int = 2,
    scale: int = 1_000_000,
    max_conv_entities: int = 256,
) -> DataFrame:
    """PMI-weighted entity co-occurrence edges — the OTHER standard KG
    construction path besides relation extraction: entities that appear
    in the same conversation far more often than chance get an edge,
    weighted by the quantized probability ratio
    ``pmi_q = (c_ab * scale) div (c_a * c_b)`` (log is monotone, global
    constants dropped, so the integer keeps the PMI ranking).

    Counts are presence-based (distinct (conv, entity)), so a mention
    burst inside one conversation doesn't inflate the pair. Conversations
    mentioning more than ``max_conv_entities`` distinct entities are
    excluded from pair generation — the per-conv pair fan-out is
    quadratic in that count, and such conversations (index pages, logs)
    are association noise anyway; the cap is the same bounded-expansion
    discipline as the wedge-center cap of :func:`link_prediction`. ``c_a``
    stays computed over ALL conversations (documented asymmetry: the
    denominator is the entity's true reach).

    Scale: presence dedup and both count aggs are map-side combinable;
    the pair self-join keys on conv_id with fan-out bounded by the cap;
    the two dim joins broadcast under AQE.
    """
    if min_count < 1 or max_conv_entities < 2:
        raise ValueError("min_count >= 1 and max_conv_entities >= 2 required")
    mentions = detect_mentions(turns)
    linked = link_mentions(mentions, entity_dict)
    presence = linked.select("conv_id", "entity_id").distinct()
    singles = presence.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    small = presence.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("_ne")
    ).filter(F.col("_ne") <= max_conv_entities).select("conv_id")
    capped = presence.join(small, "conv_id", "left_semi")
    a = capped.select("conv_id", F.col("entity_id").alias("e1"))
    b = capped.select("conv_id", F.col("entity_id").alias("e2"))
    pairs = (
        a.join(b, "conv_id")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    s1 = singles.select(F.col("entity_id").alias("e1"), F.col("c").alias("c_a"))
    s2 = singles.select(F.col("entity_id").alias("e2"), F.col("c").alias("c_b"))
    return (
        pairs.join(s1, "e1")
        .join(s2, "e2")
        .select(
            "e1", "e2", "c_ab", "c_a", "c_b",
            F.expr(f"CAST(c_ab * {scale}L div (c_a * c_b) AS BIGINT)").alias(
                "pmi_q"
            ),
        )
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree-assortativity coefficient of the undirected KG (Newman
    2002) — one row ``(n_ends, sum_x, sum_xy, sum_xx, r)``: do hubs
    attach to hubs (r > 0, social-network-like) or to leaves (r < 0,
    web/biology-like)? The single number that says which skew strategy
    the join layer should expect.

    Every undirected edge contributes BOTH orientations (x, y) =
    (deg(u), deg(v)), the standard symmetric formulation, so
    sum_x = sum_y and sum_xx = sum_yy and

        r = (n * sum_xy - sum_x^2) / (n * sum_xx - sum_x^2)

    The sufficient statistics are exact BIGINT sums (map-side
    combinable, one pass over the degree-joined edge list); r is then
    ONE division of two exactly-computed integers — IEEE-identical in
    any engine. Overflow bound: n * sum_xx must stay under 2^63, which
    holds for graphs with (ends x max-deg^2 products) below ~9e18 —
    about 1e9 edges at degree ~1e3; past that, widen the two products
    to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), same expressions.
    Degenerate regular graphs (every degree equal) have a zero
    denominator — r is NULL there, by construction, in both engines.
    """
    sym = _sym_edges(edges)
    und = sym.filter(F.col("lo") < F.col("hi"))
    deg = sym.groupBy(F.col("lo").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    d_lo = deg.select(F.col("v").alias("lo"), F.col("deg").alias("dlo"))
    d_hi = deg.select(F.col("v").alias("hi"), F.col("deg").alias("dhi"))
    j = und.join(d_lo, "lo").join(d_hi, "hi")
    ends = j.select(
        F.col("dlo").alias("x"), F.col("dhi").alias("y")
    ).unionByName(
        j.select(F.col("dhi").alias("x"), F.col("dlo").alias("y"))
    )
    stats = ends.agg(
        F.count(F.lit(1)).alias("n_ends"),
        F.sum("x").alias("sum_x"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
    )
    num = F.col("n_ends") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_x")
    den = F.col("n_ends") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
    return stats.select(
        "n_ends", "sum_x", "sum_xy", "sum_xx",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("r"),
    )


def predicate_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-predicate reciprocity of the directed KG: for each predicate,
    how many of its distinct (subj, obj) edges also hold in reverse
    under the SAME predicate — the schema-induction signal that a
    relation is symmetric (reciprocity ~1: mark it symmetric and store
    one canonical direction; ~0: keep direction, it carries meaning).

    Output: ``(pred, n_edges, n_recip, reciprocity)`` with the ratio a
    single exact-integer division.

    Scale: one distinct-edge dedup, one self-semi-join keyed on the full
    (pred, subj, obj) triple (hash join, no fan-out — semi joins emit at
    most the probe side), one map-side-combinable rollup per predicate.
    """
    e = (
        edges.select("subj_id", "pred", "obj_id")
        .filter(F.col("subj_id") != F.col("obj_id"))
        .distinct()
    )
    rev = e.select(
        F.col("obj_id").alias("subj_id"),
        "pred",
        F.col("subj_id").alias("obj_id"),
    )
    recip = e.join(rev, ["subj_id", "pred", "obj_id"], "left_semi")
    n_all = e.groupBy("pred").agg(F.count(F.lit(1)).alias("n_edges"))
    n_rec = recip.groupBy("pred").agg(F.count(F.lit(1)).alias("n_recip"))
    return (
        n_all.join(n_rec, "pred", "left")
        .select(
            "pred",
            "n_edges",
            F.coalesce(F.col("n_recip"), F.lit(0).cast("bigint")).alias(
                "n_recip"
            ),
        )
        .select(
            "pred", "n_edges", "n_recip",
            (
                F.col("n_recip").cast("double")
                / F.col("n_edges").cast("double")
            ).alias("reciprocity"),
        )
    )


def kg_novelty(edges: DataFrame) -> DataFrame:
    """Per-conversation KG contribution report: how many edge
    occurrences each conversation produced, how many DISTINCT (subj,
    pred, obj) triples it touched, and how many of those it OWNS — i.e.
    it is the lexicographically-first conversation asserting that
    triple (the deterministic stand-in for ingestion order at test
    scale; swap the min key for an ingestion timestamp in production).
    The marginal-value signal for corpus acquisition: a source whose
    conversations own nothing new is already covered.

    Scale: one (s, p, o)-keyed min agg for ownership, one conv-keyed
    rollup each for occurrences and owned triples — all map-side
    combinable; the ownership join keys on the full triple (no
    fan-out).
    """
    base = edges.select("subj_id", "pred", "obj_id", "conv_id")
    occ = base.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    trip = base.distinct()
    touched = trip.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    owner = trip.groupBy("subj_id", "pred", "obj_id").agg(
        F.min("conv_id").alias("conv_id")
    )
    owned = owner.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_owned")
    )
    return (
        occ.join(touched, "conv_id")
        .join(owned, "conv_id", "left")
        .select(
            "conv_id", "n_occurrences", "n_triples",
            F.coalesce(F.col("n_owned"), F.lit(0).cast("bigint")).alias(
                "n_owned"
            ),
        )
        .select(
            "*",
            (
                F.col("n_owned").cast("double")
                / F.col("n_triples").cast("double")
            ).alias("novelty"),
        )
    )


def edge_confidence_profile(edges: DataFrame) -> DataFrame:
    """Per-predicate confidence mix: one row per (pred, conf) value
    with its occurrence count and within-predicate share — the
    threshold-setting table for the P7 confidence filter, exact
    because the extractor's conf domain is tiny (1/(1+dist) over the
    beam's integer distances), so the full distribution is enumerable
    with no binning at all.

    Scale: one map-side-combinable agg on (pred, conf) plus broadcast
    per-pred totals; share is one exact-integer division. The conf
    domain is bounded by the beam distance cap, so the output is a few
    rows per predicate at ANY corpus size.
    """
    per = edges.groupBy("pred", "conf").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    tot = per.groupBy("pred").agg(F.sum("n_edges").alias("_t"))
    return per.join(F.broadcast(tot), "pred").select(
        "pred", "conf", "n_edges",
        (
            F.col("n_edges").cast("double") / F.col("_t").cast("double")
        ).alias("share"),
    )


def provenance_integrity(edges: DataFrame) -> DataFrame:
    """Lineage self-check over the edge provenance strings — the P6-
    family consistency gate a warehouse runs after every KG write: parse
    ``extract:<conv>:<turn>:<s1>:<s2>`` back and verify (a) the embedded
    conv/turn match the row's own columns, and (b) the span ordering
    invariant s1 < s2 holds. One row: ``(n_edges, n_malformed,
    n_mismatched, n_span_violations)`` — all zeros after a healthy
    write, and a non-zero is an exact count of corrupted lineage rows.

    Scale: row-local string splits + one 1-row fold; no shuffle at all
    beyond the final aggregate.
    """
    parts = F.split(F.col("provenance"), ":")
    # try_element_at: NULL (not an error) past the end — malformed rows
    # must be COUNTED, never crash the check (DuckDB's p[i] agrees)
    parsed = edges.select(
        "conv_id", "turn_idx",
        F.size(parts).alias("_n"),
        F.try_element_at(parts, F.lit(1)).alias("_tag"),
        F.try_element_at(parts, F.lit(2)).alias("_conv"),
        F.try_element_at(parts, F.lit(3)).alias("_turn"),
        F.try_element_at(parts, F.lit(4)).cast("bigint").alias("_s1"),
        F.try_element_at(parts, F.lit(5)).cast("bigint").alias("_s2"),
    )
    well_formed = (F.col("_n") == 5) & (F.col("_tag") == "extract")
    matches = (
        well_formed
        & (F.col("_conv") == F.col("conv_id"))
        & (F.col("_turn") == F.col("turn_idx").cast("string"))
    )
    span_ok = well_formed & (F.col("_s1") < F.col("_s2"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(~well_formed, 1).otherwise(0))
        .cast("bigint")
        .alias("n_malformed"),
        F.sum(F.when(well_formed & ~matches, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatched"),
        F.sum(F.when(well_formed & ~span_ok, 1).otherwise(0))
        .cast("bigint")
        .alias("n_span_violations"),
    )
