"""Iterative graph operators over relational frames.

PageRank on the page-transition graph (edges = adjacent-page pairs
from operators/page_flow.py, weights = transition counts).  The
loop body is pure DataFrame algebra — join rank onto edges, weighted
contribution sum, re-anchor on the node frame — so each iteration is
one shuffle on `dst` plus a broadcast of the (tiny) rank-carrying
node frame when AQE sizes it under the threshold; `ckpt`
(functions/ckpt.py) truncates lineage every round exactly as
operators/dedup.py::dedup_clusters does, so every loop here honors
the SPARK_GRAFT_PAIR_CKPT local|reliable lifecycle knob.

Simplified-PageRank contract (mirrored expression-for-expression by
the unrolled-CTE oracle): dangling-node mass is NOT redistributed —
rank = (1-d)/N + d * Σ_in (rank_src * w / w_out_src).  With a fixed
iteration count the result is deterministic; ranks are HALF_UP
rounded (6 dp) on both engines so cross-partition float summation
order cannot flip the hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import qround
from ..functions.ckpt import ckpt


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """(node, rank) after `iters` rounds of weighted PageRank."""
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("_w_out"))
    # pin the loop-invariant frames ONCE: every iteration's plan
    # references trans and nodes, and without this the upstream
    # edge derivation (for the page graph: a full events scan + the
    # session window) re-executes once per iteration — measured 5×
    # the scan cost at 5 iterations.  Both are materialized eagerly.
    trans = (
        edges.join(out_w, src)
        .select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_t"),
            (F.col(weight).cast("double") / F.col("_w_out")).alias("_p"),
        )
        .transform(ckpt, eager=True)
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(ckpt, eager=True)
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    # (1 - damping) in DECIMAL then one rounding to double — matches how
    # the oracle's SQL literal `(1.0 - 0.85)` evaluates (decimal-exact
    # 0.15 → nearest double), where Python's float subtraction
    # 1.0 - 0.85 lands one ULP higher and the per-iteration constant
    # would differ from the oracle's.
    from decimal import Decimal

    base = F.lit(float(Decimal(1) - Decimal(repr(damping)))) / F.col("_n")
    for _ in range(iters):
        contrib = (
            trans.join(ranks, trans["_s"] == ranks["node"])
            .groupBy("_t")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_t"], "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(F.col("_c"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .transform(ckpt)
        )
    return ranks.select("node", qround(F.col("rank"), 6).alias("rank")).orderBy("node")


def page_transition_edges(actions: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """(src, dst, weight) from adjacent same-session page views —
    one user-window shuffle (shared shape with page_splits) + one
    count aggregate."""
    from .page_flow import page_splits

    return (
        page_splits(actions, gap_seconds=gap_seconds)
        .where(F.col("split").isNotNull())
        .select(
            F.split("split", "_").getItem(0).alias("src"),
            F.split("split", "_").getItem(1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def bfs_depths(
    edges: DataFrame,
    source: DataFrame,
    max_depth: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, depth) — minimum-hop distance from `source` (a 1-row
    frame with column `node`) over the DIRECTED graph, bounded by
    `max_depth`.  The reachability/radius primitive (how far is every
    page from the landing page; which docs are within k citation
    hops).

    Scale design — frontier expansion, the standard distributed BFS:
    each round joins ONLY the current frontier (nodes first reached
    last round) against the edge list, then anti-joins the visited
    set; a node is therefore expanded exactly once, total work is
    O(|E|) across all rounds, and no per-path state ever exists (the
    recursive-CTE oracle enumerates paths and relies on per-step
    dedup — fine for DuckDB on test SFs, but the path-free frontier
    form is what survives a cyclic 100 TB graph).  `ckpt` pins each
    frontier so iteration plans don't re-derive the upstream scan
    (same trade as pagerank/dedup_clusters).  The loop exits early on
    an empty frontier — `max_depth` bounds rounds, it doesn't pad
    output."""
    e = ckpt(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).distinct(),
        eager=True,
    )
    visited = ckpt(
        source.select("node").withColumn("depth", F.lit(0).cast("bigint")),
        eager=True,
    )
    frontier = visited
    # one job per round (round 13, same protocol as the CC fixpoint):
    # the frontier checkpoint is LAZY and the emptiness check a full
    # count, so materialization and the loop decision share one job —
    # previously each round paid three (eager frontier ckpt + an
    # isEmpty take-probe + an eager visited ckpt).  The visited union
    # is also lazy: it materializes under the NEXT round's count (or
    # the final orderBy), strictly sequentially, so the lazy-ckpt
    # parallel-broadcast race (functions/ckpt.py) does not apply.
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("bigint"))
            .transform(ckpt)
        )
        if nxt.count() == 0:
            break
        visited = ckpt(visited.unionByName(nxt))
        frontier = nxt
    return visited.orderBy("node")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over the UNDIRECTED simple graph induced
    by `edges` — the clustering-structure metric (spam rings, bot
    farms, navigation loops all show up as triangle anomalies).

    Scale design — degree-ordered orientation (the standard
    distributed algorithm): canonicalize to undirected simple edges,
    then orient every edge from its lower-(degree, id) endpoint to
    the higher one.  Each triangle is then counted EXACTLY once (at
    its lowest-degree corner), and the wedge join fans out by the
    ORIENTED out-degree, which is O(sqrt(|E|)) per node even on
    power-law graphs — the u-shaped "hub joins hub" explosion a
    naive 3-way self-join suffers never happens.  Two shuffles
    (degree agg + wedge join) plus the closing semi-join."""
    # und feeds three branches (degree agg + both orientation joins)
    # and oriented three more (both wedge sides + the closing join):
    # truncate each, or every branch re-derives the edge list from
    # the raw events (11 scans at sf0.01 before truncation)
    und = ckpt(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))  # self-loops close no triangle
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    # orient: lower (degree, id) endpoint -> higher
    oriented = ckpt(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    w1 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "pivot").where(F.col("x") < F.col("y"))
    closing = und.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    return wedges.join(closing, ["x", "y"], "inner").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """(node, community) — SYNCHRONOUS weighted label propagation
    (Raghavan et al. 2007) over the undirected graph, `rounds` fixed
    iterations.  The community-detection primitive the item graph
    needs (which products cluster into browsing neighborhoods; which
    pages form a topic pocket) — cheaper than modularity methods and
    expressible as pure joins + aggregates.

    Determinism contract (what makes it hash-gateable where classic
    async LPA is not): labels init to the node id; every round ALL
    nodes update simultaneously to the neighbor label with the
    highest incident edge-weight sum, ties broken by the SMALLEST
    label; integer weights make the argmax exact, so a fixed round
    count replays identically in the unrolled-CTE oracle (the
    pagerank argument, with exact integers instead of rounded
    doubles).

    Scale: each round is one shuffle — join labels onto the directed
    expansion of the edge list (2|E| rows), groupBy (node, label)
    with map-side combine, then a per-node top-1 window over the
    ≤deg(node) label-sum rows.  The window partitions by NODE, so a
    hot label (giant community) never funnels through one task; the
    label frame is |V| rows and `ckpt` truncates the iterative
    lineage exactly as pagerank does."""
    from pyspark.sql import Window

    both = (
        edges.select(
            F.col(src).alias("_u"), F.col(dst).alias("_v"), F.col(weight).alias("_w")
        )
        .unionAll(
            edges.select(
                F.col(dst).alias("_u"), F.col(src).alias("_v"), F.col(weight).alias("_w")
            )
        )
        .transform(ckpt, eager=True)
    )
    labels = (
        both.select(F.col("_u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(ckpt, eager=True)
    )
    w_top = Window.partitionBy("_u").orderBy(F.desc("_lw"), F.asc("label"))
    for _ in range(rounds):
        neigh = (
            both.join(labels, both["_v"] == labels["node"])
            .groupBy("_u", "label")
            .agg(F.sum("_w").alias("_lw"))
        )
        labels = (
            neigh.withColumn("_rn", F.row_number().over(w_top))
            .where(F.col("_rn") == 1)
            .select(F.col("_u").alias("node"), "label")
            .transform(ckpt)
        )
    return labels.select("node", F.col("label").alias("community")).orderBy("node")
