"""Iterative graph operators over relational frames.

PageRank on the page-transition graph (edges = adjacent-page pairs
from operators/page_flow.py, weights = transition counts).  The
loop body is pure DataFrame algebra — join rank onto edges, weighted
contribution sum, re-anchor on the node frame — so each iteration is
one shuffle on `dst` plus a broadcast of the (tiny) rank frame.
Every loop here writes only its round; `functions/iterate.py::iterate`
scopes, sizes and truncates it (`ckpt`), so every loop honors the
SPARK_GRAFT_PAIR_CKPT local|reliable lifecycle knob.

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
from ..functions.iterate import iterate


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
    # 1/N and (1 - damping)/N as literals (IEEE division is the same
    # in Python and the JVM); (1 - damping) in DECIMAL then one rounding
    # to double — how the oracle's SQL literal `(1.0 - 0.85)` evaluates,
    # where Python's float 1.0 - 0.85 lands one ULP higher.
    from decimal import Decimal

    n_nodes = nodes.count()
    n = float(max(n_nodes, 1))
    base = float(Decimal(1) - Decimal(repr(damping))) / n

    def rank_round(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            trans.join(ranks, trans["_s"] == ranks["node"])
            .groupBy("_t")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c"))
        )
        return nodes.join(contrib, nodes["node"] == contrib["_t"], "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("_c"), F.lit(0.0))).alias(
                "rank"
            ),
        )

    start = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    ranks, _ = iterate(start, rank_round, iters, n_rows=n_nodes)
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
    the loop state is one `visited` frame with `depth`.  Round d joins
    ONLY its frontier (`depth == d-1`) against the edge list and
    merges what it reaches into `visited` at its minimum depth, so a
    node is expanded exactly once and no per-path state ever exists
    (the recursive-CTE oracle enumerates paths and relies on per-step
    dedup — fine for DuckDB on test SFs, but the path-free frontier
    form is what survives a cyclic 100 TB graph).  The loop stops at
    the first round that reaches no node (`depth == d` counts zero) —
    `max_depth` bounds rounds, it doesn't pad output."""
    e = ckpt(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).distinct(),
        eager=True,
    )

    def expand(visited: DataFrame, d: int) -> DataFrame:
        frontier = visited.where(F.col("depth") == d - 1)
        reached = frontier.join(e, frontier["node"] == e["_s"]).select(
            F.col("_t").alias("node"), F.lit(d).cast("bigint").alias("depth")
        )
        return (
            visited.unionByName(reached)
            .groupBy("node")
            .agg(F.min("depth").alias("depth"))
        )

    # the source is often derived from the edges' own upstream scan:
    # pin it, since round 1 reads it twice
    start = ckpt(
        source.select("node").withColumn("depth", F.lit(0).cast("bigint")),
        eager=True,
    )
    visited, _ = iterate(
        start, expand, max_depth, n_rows=e.count(), changed=lambda d: F.col("depth") == d
    )
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

    def relabel(labels: DataFrame, _: int) -> DataFrame:
        neigh = (
            both.join(labels, both["_v"] == labels["node"])
            .groupBy("_u", "label")
            .agg(F.sum("_w").alias("_lw"))
        )
        return (
            neigh.withColumn("_rn", F.row_number().over(w_top))
            .where(F.col("_rn") == 1)
            .select(F.col("_u").alias("node"), "label")
        )

    labels, _ = iterate(labels, relabel, rounds, n_rows=labels.count())
    return labels.select("node", F.col("label").alias("community")).orderBy("node")
