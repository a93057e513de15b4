"""Similarity search over embedding columns (array<float>).

Not present in the reference (its only "similarity" is equality
joins); added for the training-data-pipeline surface:

* `ann_bruteforce_topk` — exact top-k cosine neighbors for a small
  query set: broadcast the queries, one pass over the corpus, per-
  query row_number window.  The baseline and the oracle target.
* `ann_ivf_topk` — IVF-flat scale path: partition the corpus into
  `n_clusters` Voronoi cells around deterministic centroids, probe
  only the `n_probe` cells nearest each query.  At 100 TB the corpus
  pass becomes a partition-pruned scan (cluster id is a partition
  key) instead of a full crossJoin; recall is approximate, so this
  variant carries a rows-only check rather than a hash oracle.

Dot products use built-in higher-order functions (zip_with +
aggregate) over doubles — JVM-side, codegen'd, no Python.  Norms are
hoisted into per-ROW projections before any pair join: computing
|v| inside the pair expression re-evaluates it once per pair
(n·m times); hoisted, it's once per vector, and the final
`dot/(na·nb)` expression is bit-identical to the naive form so the
oracle hash is unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import qround
from ..sources import local_frame


def lsh_planes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded ±1 hyperplanes — the SINGLE source of the LSH geometry,
    imported by both the Spark operator and the DuckDB oracle mirror
    (oracle.py::_lsh_pair_ctes) so the two engines can never drift.
    ±1 coordinates make each dot term ±v_i EXACTLY (x·±1.0 is lossless
    in IEEE), so a left-fold sum in both engines is bit-identical and
    the sign bits — hence the candidate set — hash-gate cleanly."""
    import random as _random

    rng = _random.Random(seed)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_bits)]


def lsh_band_frame(
    v_frame: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int,
    band_bits: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(id, band, bucket) rows — the SINGLE Spark-side banding used by
    every hyperplane-LSH consumer (near-dup pairs, the LSH-fed
    closure, ann_lsh_topk).  bit_j = [v · p_j >= 0] over the seeded
    ±1 planes (lossless products, so the signs — hence buckets —
    hash-gate cross-engine; see lsh_planes), packed band_bits per
    band.  Slim triples by design: vectors re-attach after candidate
    dedup (see embedding_neardup_lsh's shuffle-volume note)."""
    planes = lsh_planes(n_bits, dim, seed)
    n_bands = n_bits // band_bits
    # HOF fold on purpose — an unrolled-literal form was tried twice in
    # r12 and measured SLOWER both times on the bench corpus (sf0.1,
    # warm session, noop sink): (a) inlined into the explode it blew
    # Janino's 64 KB method limit ("Code grows beyond 64 KB" in every
    # consumer's logs, silent interpreted fallback); (b) moved into a
    # method-splitting Project it codegen'd cleanly but ran
    # ann_lsh_topk at 6.7 s vs 2.2 s for this HOF shape — the
    # n_bits×dim (=1024)-term tree multiplies Catalyst analysis +
    # codegen cost per query, and a chain of null-checked element_at
    # calls loses to the interpreted fold's tight array traversal.
    # Unrolling only pays when per-row arithmetic dominates plan cost
    # (O(10^8+) rows/stage); see dot()'s docstring for the same
    # finding on the pair-verification folds.
    # The whole bucket array is ONE parsed SQL string: the Column-op
    # form cost ~70 py4j round trips per plane (16 planes × 64 F.lit
    # calls each ≈ 0.8 s of construction per call, cProfile-measured);
    # the string is one round trip and optimizes to the IDENTICAL
    # expression tree (same zip_with/aggregate fold, same IEEE order,
    # same ±1.0 double literals — value-identity pinned in
    # tests/test_expr_builders.py).  This does NOT revisit the
    # reverted unroll above: the runtime expression is unchanged, only
    # its client-side construction is batched.
    def _dot_str(p: list[float]) -> str:
        arr = ", ".join(("1.0D" if c > 0 else "-1.0D") for c in p)
        return (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )

    bits = [f"cast(({_dot_str(p)} >= 0) as int)" for p in planes]
    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', {s})".format(
            b=b,
            s=" + ".join(
                f"{bits[b * band_bits + r]} * {1 << r}" for r in range(band_bits)
            ),
        )
        for b in range(n_bands)
    )
    buckets = F.expr(f"array({structs})")
    return v_frame.select(id_col, F.explode(buckets).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _hof_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Index-order dot product.  With `dim` (a static vector width)
    the fold is unrolled into a left-to-right multiply-add chain with
    the SAME IEEE addition order as the HOF form (seed 0.0, ascending
    index), so the value is bit-identical (hex-asserted in
    test_similarity.py), and a per-row size guard falls back to the
    HOF fold on any other width — a wrong `dim` is harmless, not
    wrong.

    NO in-repo caller passes `dim`: an r12 A/B at bench scale (5k-row
    corpus, sf0.1, warm session) measured the unrolled form ~3x
    SLOWER end-to-end (ann_bruteforce 0.91 s HOF vs 2.86 s unrolled;
    every ANN bench entry regressed 2-4x) because the 64-term
    expression tree multiplies Catalyst analysis + codegen cost per
    query, which dwarfs the interpreted-eval saving at these row
    counts.  The unroll only pays when per-row arithmetic dominates
    plan cost — O(10^8+) pair evaluations per stage — so it is an
    opt-in knob for that regime, not a default.  (Contrast
    lsh_band_frame's lit_dot, which IS unrolled by default: literal
    ±1 planes fold to plain column refs there, and the banding stage
    feeds every LSH consumer's candidate generation.)"""
    if dim is None:
        return _hof_dot(a, b)
    e: Column = F.lit(0.0)
    for i in range(dim):
        e = e + F.element_at(a, i + 1) * F.element_at(b, i + 1)
    return F.when((F.size(a) == dim) & (F.size(b) == dim), e).otherwise(
        _hof_dot(a, b)
    )


def _hof_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm; same dim-hint unroll/guard contract as `dot`."""
    if dim is None:
        return _hof_norm(a)
    e: Column = F.lit(0.0)
    for i in range(dim):
        x = F.element_at(a, i + 1)
        e = e + x * x
    return F.when(F.size(a) == dim, F.sqrt(e)).otherwise(_hof_norm(a))


def _with_vec(
    df: DataFrame, id_alias: str, vec: str, n: str, dim: int | None = None
) -> DataFrame:
    """Project (id, vec_as_double, norm) once per row."""
    v = _to_double(F.col("embedding"))
    return df.select(
        F.col("vec_id").alias(id_alias), v.alias(vec), norm(v, dim).alias(n)
    )


def _paired_sim(
    a_vec: str, a_norm: str, b_vec: str, b_norm: str, dim: int | None = None
) -> Column:
    return dot(F.col(a_vec), F.col(b_vec), dim) / (F.col(a_norm) * F.col(b_norm))


def _sim_order(sim_col: str, id_col: str) -> list[Column]:
    """Rank ordering used by every ANN window: quantized similarity
    (3 dp, the same qround the output carries) first, id tie-break
    second.  Ordering by the RAW double made rank assignment depend
    on the engine's last ULP — Spark's zip_with/aggregate fold and
    DuckDB's list_cosine_similarity can differ there, flipping
    near-equal candidates.  Quantized, both engines rank identical
    values identically and the id tie-break decides inside each
    3-dp bucket."""
    return [F.desc(qround(F.col(sim_col), 3)), F.asc(id_col)]


def ann_bruteforce_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact cosine top-k for query vectors (vec_id < n_queries)."""
    queries = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec", "q_norm"
    )
    corpus = _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm")
    sims = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
    w = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def hard_negative_mining(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    dup_threshold: float = 0.95,
) -> DataFrame:
    """Top-k HARD NEGATIVES per query vector: the most cosine-similar
    corpus vectors carrying a DIFFERENT label, excluding
    near-duplicates (quantized sim >= dup_threshold — a high-sim
    cross-label pair is far more likely a labeling error than a
    legitimate hard negative, the standard filtered-mining rule from
    dense-retrieval training, e.g. RocketQA's denoised negatives).

    The label inequality also excludes self-pairs (same id ⇒ same
    label).  Ranking and output quantization follow the ANN family's
    cross-engine discipline (_sim_order: 3-dp quantized sim, id
    tie-break), and the dup filter applies BEFORE ranking in both
    engines (SQL WHERE precedes window evaluation), so ranks match
    the oracle exactly.

    Scale: brute-force scoring with the ≤n_queries-row query block
    broadcast — a pure map over the corpus, like ann_bruteforce_topk
    (the documented baseline).  At 100 TB mine negatives from the
    IVF layout instead: probe each query's top cells via
    ann_ivf_topk_indexed's pruned scan and apply the same
    label/dup filter — candidate generation is then O(probed cells),
    not O(corpus)."""
    queries = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _to_double(F.col("embedding")).alias("q_vec"),
    )
    queries = queries.select(
        "query_id", "q_label", "q_vec", norm(F.col("q_vec")).alias("q_norm")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _to_double(F.col("embedding")).alias("n_vec"),
    )
    corpus = corpus.select(
        "neighbor_id",
        "neighbor_label",
        "n_vec",
        norm(F.col("n_vec")).alias("n_norm"),
    )
    sims = (
        corpus.join(
            F.broadcast(queries),
            F.col("neighbor_label") != F.col("q_label"),
        )
        .withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
        .where(qround(F.col("sim"), 3) < dup_threshold)
    )
    w = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            F.col("neighbor_label").cast("int").alias("neighbor_label"),
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def kmeans_centroids(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame ops: seed with the first `k`
    vectors, then `iters` rounds of (assign to nearest centroid by
    cosine → new centroid = element-wise mean).  Assignment is one
    broadcast pass per round (the centroid frame is k rows); the mean
    is a posexplode + avg keyed by (cluster, position) — one shuffle
    of |corpus|·dim scalars per round, which at 100 TB you would run
    on a sample (centroid quality needs only a representative
    fraction, not the full corpus).  The final centroids feed
    ann_ivf_topk's parallel broadcast joins, so they are materialized
    eagerly (the lazy-ckpt race in functions/ckpt.py).

    Returns (cluster_id, c_vec, c_norm).  Centroids are float means,
    so cross-engine SQL replay is NOT bit-stable (summation order);
    IVF built on k-means therefore carries a recall-floor test
    instead of a hash oracle — the default first-k seeding stays the
    oracle-replayable path."""
    from ..functions.ckpt import ckpt
    from ..functions.iterate import iterate

    v = _with_vec(embeddings, "vec_id", "v", "nv")
    cents = v.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"),
        F.col("v").alias("c_vec"),
        F.col("nv").alias("c_norm"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(*_sim_order("c_sim", "cluster_id"))

    def lloyd_round(cents: DataFrame, _: int) -> DataFrame:
        assigned = (
            v.join(F.broadcast(cents))
            .withColumn("c_sim", _paired_sim("v", "nv", "c_vec", "c_norm"))
            .withColumn("rn", F.row_number().over(w_assign))
            .where(F.col("rn") == 1)
            .select("cluster_id", "v")
        )
        return (
            assigned.select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg("val").alias("val"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
            .select(
                "cluster_id",
                F.transform("pv", lambda s: s["val"]).alias("c_vec"),
            )
            .withColumn("c_norm", norm(F.col("c_vec")))
        )

    cents, _ = iterate(cents, lloyd_round, iters, n_rows=v.count())
    return ckpt(cents, eager=True)


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k.

    Centroids default to the first `n_clusters` vectors — fully
    deterministic, so the DuckDB oracle replays the identical IVF
    construction and hash-matches.  `kmeans_iters > 0` switches to
    Lloyd-refined centroids (`kmeans_centroids`) for better cell
    balance; that variant is covered by a recall-floor test vs brute
    force (float means aren't bit-replayable in SQL).  Corpus→cell
    assignment is one broadcast pass; queries probe their `n_probe`
    nearest cells, so the candidate join touches ~n_probe/n_clusters
    of the corpus, and at 100 TB cluster_id becomes a partition key
    (partition-pruned scan instead of a full crossJoin).
    """
    if kmeans_iters > 0:
        cents = kmeans_centroids(embeddings, k=n_clusters, iters=kmeans_iters)
    else:
        cents = _with_vec(
            embeddings.where(F.col("vec_id") < n_clusters),
            "cluster_id",
            "c_vec",
            "c_norm",
        )
    corpus = _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm")
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        *_sim_order("c_sim", "cluster_id")
    )
    assigned = (
        corpus.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("n_vec", "n_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("neighbor_id", "n_vec", "n_norm", "cluster_id")
    )
    queries = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec", "q_norm"
    )
    w_probe = Window.partitionBy("query_id").orderBy(*_sim_order("c_sim", "cluster_id"))
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("q_vec", "q_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "cluster_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), "cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def _read_ivf_centroids(spark, path: str):
    """`_centroids` sidecar with its writer-fixed schema declared —
    both writer paths (first-n reps via _with_vec, Lloyd-refined via
    kmeans_centroids) emit exactly these columns/types, and declaring
    them skips the per-read schema-inference job (round-12: ~0.2 s of
    driver latency per bare spark.read.parquet call)."""
    return spark.read.schema(
        "cluster_id bigint, c_vec array<double>, c_norm double"
    ).parquet(path + "/_centroids")


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 8,
    kmeans_iters: int = 0,
) -> None:
    """Materialize the IVF inverted file as a cluster-partitioned
    parquet layout — the 100 TB shape `ann_ivf_topk`'s docstring
    promises: corpus vectors land under `cluster_id=<c>/` directories
    (plus centroids in the `_`-hidden `_centroids` subdir, invisible
    to the corpus scan), so a probe touches only its n_probe
    partitions via partition PRUNING instead of scanning the corpus
    and filtering.  Assignment is the same deterministic
    first-`n_clusters`-centroid rule as `ann_ivf_topk`, so the
    indexed query's results hash-match the inline operator's."""
    if kmeans_iters > 0:
        cents = kmeans_centroids(embeddings, k=n_clusters, iters=kmeans_iters)
    else:
        cents = _with_vec(
            embeddings.where(F.col("vec_id") < n_clusters),
            "cluster_id",
            "c_vec",
            "c_norm",
        )
    corpus = _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm")
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        *_sim_order("c_sim", "cluster_id")
    )
    assigned = (
        corpus.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("n_vec", "n_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("neighbor_id", "n_vec", "n_norm", "cluster_id")
    )
    # repartition on the partition key so each cell writes as one
    # file per reducer instead of every task opening every cell
    assigned.repartition("cluster_id").write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(path)
    cents.write.mode("overwrite").parquet(path + "/_centroids")


def append_ivf_index(
    embeddings_new: DataFrame,
    path: str,
) -> None:
    """Incremental admission for the IVF layout: assign NEW vectors to
    the EXISTING centroids (read back from the `_centroids` sidecar —
    never re-trained; in production IVF maintenance, re-training the
    coarse quantizer IS a rebuild, so daily appends assign-only) and
    append them under their `cluster_id=<c>/` directories.  Work is
    O(batch · n_clusters) — one broadcast assignment pass over the
    arriving vectors, never a touch of the resident cells.

    Because assignment is a pure function of (vector, centroids) and
    the centroids are frozen, `ann_ivf_topk_indexed` over a base
    index plus appends is hash-identical to a full rebuild over the
    union whenever the union's centroid rule would pick the same
    centroid set (gated: ann_ivf_topk_appended splits the corpus so
    the first-n_clusters rule lands in the base)."""
    spark = embeddings_new.sparkSession
    cents = _read_ivf_centroids(spark, path)
    corpus = _with_vec(embeddings_new, "neighbor_id", "n_vec", "n_norm")
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        *_sim_order("c_sim", "cluster_id")
    )
    assigned = (
        corpus.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("n_vec", "n_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("neighbor_id", "n_vec", "n_norm", "cluster_id")
    )
    assigned.repartition("cluster_id").write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(path)


def ann_ivf_topk_indexed(
    spark,
    index_path: str,
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 2,
    prune: str = "static",
) -> DataFrame:
    """IVF top-k over a `write_ivf_index` layout with the corpus scan
    partition-PRUNED to the probed cells.

    prune="static": the probed cluster ids (≤ n_queries·n_probe
    values — a deliberately driver-sized list) are collected and
    pushed as an IN literal, so pruning happens at PLANNING time
    (PartitionFilters + PartitionCount show only the probed cells;
    unprobed directories are never listed).  prune="dynamic" keeps
    the whole plan lazy and relies on Dynamic Partition Pruning from
    the broadcast probe join (DynamicPruningExpression on the scan) —
    the shape for when probes are themselves a big frame.  Both
    return results identical to `ann_ivf_topk` at the same
    parameters (same expressions over the same doubles)."""
    cents = _read_ivf_centroids(spark, index_path)
    queries = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec", "q_norm"
    )
    w_probe = Window.partitionBy("query_id").orderBy(*_sim_order("c_sim", "cluster_id"))
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("q_vec", "q_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "cluster_id")
    )
    corpus = spark.read.schema(
        "neighbor_id bigint, n_vec array<double>, n_norm double, cluster_id bigint"
    ).parquet(index_path)
    if prune == "static":
        probe_cells = sorted(
            r["cluster_id"]
            for r in probes.select("cluster_id").distinct().collect()
        )
        corpus = corpus.where(F.col("cluster_id").isin(probe_cells))
    w_rank = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        corpus.join(F.broadcast(probes), "cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.85,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, find intra-cluster
    pairs above a cosine threshold, and keep from each duplicate
    neighborhood the vector FARTHEST from its centroid (the paper's
    keep-low-centroid-similarity rule — the most "extreme" exemplar
    carries the most training signal).  Returns the full audit frame
    (vec_id, cluster_id, c_sim, kept).

    Keep rule, made deterministic and closure-free: v is dropped iff
    some same-cluster neighbor u with qround(sim(u,v),3) >= threshold
    precedes it in (qround(c_sim,3) ASC, vec_id ASC) order — i.e.
    only local minima of centroid-similarity survive their
    neighborhood.  Each pairwise-similar component keeps at least its
    global minimum (it precedes all its neighbors), and the rule is
    one self-join + one anti-join — no iterative transitive closure,
    so the whole operator hash-gates against a plain-SQL oracle
    (full-closure grouping is `dedup_clusters`' job if needed).
    Comparisons happen on QUANTIZED values (3 dp, the `_sim_order`
    discipline), so cross-engine float ULPs cannot flip a keep.

    Scale shape: centroids broadcast (k rows); assignment is one
    broadcast pass with a per-vector window bounded by k; the pair
    join is an EQUI join on cluster_id (codegen-eligible, blocked by
    cluster — the SemDeDup design point: k grows with the corpus so
    per-cluster pair counts stay bounded, the paper runs k ≈ 11k for
    600M docs); the drop set is a broadcastable anti-join when dups
    are sparse.  Centroids default to the first-k deterministic rule
    so the oracle replays construction exactly."""
    cents = _with_vec(
        embeddings.where(F.col("vec_id") < n_clusters),
        "cluster_id",
        "c_vec",
        "c_norm",
    )
    corpus = _with_vec(embeddings, "vec_id", "v", "nv")
    from ..functions.ckpt import ckpt

    # PRE-COLLAPSE exact-duplicate vectors before any pairing: N
    # identical embeddings (mass-duplicated boilerplate, empty docs)
    # would otherwise meet as N²/2 intra-cluster pairs — the
    # quadratic blow-up this operator exists to avoid.  Collapsing is
    # PROVABLY output-neutral under the local-min rule: every
    # non-representative copy has its representative (same vector ⇒
    # same c_sim; min id) as a preceding sim-1.0 neighbor, so it is
    # always dropped; and a copy can never change any OTHER vector's
    # fate, because whenever a copy precedes w so does its
    # representative (same c_sim, lower id).  So pairs run over
    # DISTINCT vectors only, copies join back as kept=false rows.
    reps = ckpt(
        corpus.groupBy("v", "nv").agg(
            F.min("vec_id").alias("vec_id"), F.count(F.lit(1)).alias("_copies")
        )
    )
    w_assign = Window.partitionBy("vec_id").orderBy(*_sim_order("c_sim", "cluster_id"))
    # assigned (distinct vectors) feeds three branches (both
    # pair-join sides + the survivors join): truncate so the
    # broadcast assignment pass runs once, not once per branch
    assigned = ckpt(
        reps.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("v", "nv", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "nv", "cluster_id", qround(F.col("c_sim"), 3).alias("c_sim"))
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("nv").alias("nv_a"),
        F.col("c_sim").alias("cs_a"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("nv").alias("nv_b"),
        F.col("c_sim").alias("cs_b"),
    )
    pair_sim = qround(_paired_sim("v_a", "nv_a", "v_b", "nv_b"), 3)
    # drop id_b when a similar neighbor id_a precedes it in
    # (c_sim ASC, vec_id ASC) — both sides quantized
    dropped = (
        a.join(b, "cluster_id")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (
                (F.col("cs_a") < F.col("cs_b"))
                | ((F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b")))
            )
        )
        .where(pair_sim >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    rep_verdicts = assigned.join(
        dropped.withColumn("_dropped", F.lit(True)), "vec_id", "left"
    ).select(
        F.col("vec_id").alias("_rep_id"),
        F.col("v"),
        "cluster_id",
        "c_sim",
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("_rep_kept"),
    )
    # fan the verdict back out to every vec_id: representatives carry
    # their computed fate, exact copies are always dropped
    return corpus.join(rep_verdicts, "v").select(
        "vec_id",
        "cluster_id",
        "c_sim",
        (F.col("_rep_kept") & (F.col("vec_id") == F.col("_rep_id"))).alias("kept"),
    )


def ann_bruteforce_topk_np(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """The vectorized-Arrow twin of `ann_bruteforce_topk`: one numpy
    matmul per Arrow batch against the (small, collected) query block,
    per-batch top-k, then a global top-k window over ≤ k·batches·|Q|
    candidate rows.

    Same result contract as the JVM version (asserted in tests by id
    comparison); sims carry numpy's summation order, so the hash
    oracle belongs to the JVM variant and this one is rows-only.
    When vectors are wide (≥ 256 dims) this path wins — matmul does
    dim·|batch|·|Q| flops in BLAS instead of codegen'd per-element
    loops."""
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = [r["vec_id"] for r in q_rows]
    if not q_rows:
        # empty corpus/query block: np.array([]) is 1-D and the
        # axis-1 norm below would raise — return the empty frame
        return local_frame(
            embeddings.sparkSession,
            [],
            "query_id long, rank long, neighbor_id long, sim double",
        )
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ Qn.T  # |batch| × |Q|
            ids = pdf["vec_id"].to_numpy()
            out = []
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                mask = ids != qid
                cand_idx = np.argsort(-col[mask])[:k]
                cand_ids = ids[mask][cand_idx]
                for nid, s in zip(cand_ids, col[mask][cand_idx]):
                    out.append((int(qid), int(nid), float(s)))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    cand = embeddings.select("vec_id", "embedding").mapInPandas(
        part, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_bits: int = 16,
    band_bits: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs — the CANONICAL near-dup
    operator (`embedding_neardup_pairs` is the O(n²) calibration twin).

    Sign-bit sketch: bit_j = [v · p_j >= 0] for seeded ±1 hyperplanes
    p_j; band collision probability for a pair at angle θ is
    (1 - θ/π)^band_bits per band.  Candidates = pairs sharing any
    band bucket; each candidate is verified EXACTLY (cosine), so
    precision is exact and only recall is approximate.  band_bits
    trades pruning for recall: 2 bits keeps ≥98% recall at sim 0.45
    (the synthetic corpus' top pairs); a real near-dup corpus
    (sim ≥ 0.9) would use 4-8 bit bands for much stronger pruning.
    Vectors ride through the band join (dim × 8 B per band row),
    mirroring the minhash carried-set design — one full-table
    shuffle, verification row-local."""
    from ..functions.ckpt import ckpt
    from ..functions.spread import spread_small_scan

    # round 12 (profiled): the single-row-group bench scan serialized
    # the 16×64-dim sign folds on ONE task, and the banded frame was
    # re-derived for BOTH self-join aliases (two identical 1.4 s
    # serial stages — exchange reuse does not dedupe re-derived
    # branches).  Spread the scan (guide §2.5, no-op at scale), then
    # truncate `v` (three consumers: banding + both vector re-attach
    # joins) and the slim (id, band, bucket) band frame (two
    # self-join sides) so each computes exactly once.
    v = ckpt(
        _with_vec(spread_small_scan(embeddings, "vec_id"), "doc_id", "v", "nv")
    )
    # SLIM band join: only (doc_id, band, bucket) triples flow through
    # the self-join and the pair dedup.  The earlier shape carried
    # both 64-dim vectors on every candidate row — at sf0.1 that
    # shuffled ~4 GB through dropDuplicates for a 2M-pair candidate
    # set (20+ s); id-only it's ~100 MB (<3 s).  Vectors re-attach
    # AFTER dedup via two joins against the per-row vector frame
    # (corpus-sized, so AQE broadcasts it when small; at PB scale it
    # stays a shuffle join keyed by id — still per-PAIR-once, not
    # per-candidate-once).  Same candidate set, same exact
    # verification, identical output.
    banded = ckpt(lsh_band_frame(v, "doc_id", "v", n_bits, band_bits, dim, seed))
    cand_ids = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = v.select(
        F.col("doc_id").alias("doc_a"), F.col("v").alias("va"), F.col("nv").alias("na")
    )
    vb = v.select(
        F.col("doc_id").alias("doc_b"), F.col("v").alias("vb"), F.col("nv").alias("nb")
    )
    return (
        cand_ids.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("sim", _paired_sim("va", "na", "vb", "nb"))
        .where(F.col("sim") >= threshold)
        .select("doc_a", "doc_b", qround(F.col("sim"), 3).alias("sim"))
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_bits: int = 16,
    band_bits: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """LSH-BUCKETED approximate nearest neighbors — the second scale
    path next to IVF (`ann_ivf_topk*`): each query scores only the
    corpus vectors that share ≥1 band bucket with it, then ranks the
    candidates by exact cosine (quantized ordering + id tie-break,
    the family-wide `_sim_order` discipline).

    Unlike IVF (n_probe Voronoi cells per query), the probed set here
    is data-independent of any centroid construction: bucket
    membership follows from the seeded ±1 hyperplane signs alone, so
    the candidate set — and therefore the whole result — is
    deterministic and HASH-GATED (same argument as
    embedding_neardup_lsh; only recall is approximate, precision over
    candidates is exact).

    Scale: banding is one stateless map over the corpus; the
    query→corpus candidate join is an equi-join on (band, bucket)
    with the ≤n_queries·n_bands query-band frame BROADCAST, so the
    corpus is touched once, map-side, with no shuffle of corpus rows
    at all — at 100 TB bucket ids become a partition/cluster key and
    the probe is a pruned scan, exactly the ann_ivf_topk_indexed
    layout argument applied to LSH buckets."""
    from ..functions.ckpt import ckpt
    from ..functions.spread import spread_small_scan

    # same spread+truncate as embedding_neardup_lsh: `v` has three
    # consumers (banding, query frame, neighbor re-attach) and the
    # sign folds must not serialize on a 1-partition bench scan
    v = ckpt(
        _with_vec(spread_small_scan(embeddings, "vec_id"), "vec_id", "v", "nv")
    )
    banded = ckpt(lsh_band_frame(v, "vec_id", "v", n_bits, band_bits, dim, seed))
    q_bands = banded.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        banded.join(F.broadcast(q_bands), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    vq = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q_vec"),
        F.col("nv").alias("q_norm"),
    )
    vn = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("n_vec"),
        F.col("nv").alias("n_norm"),
    )
    sims = (
        cand.join(vn, "neighbor_id")
        .join(F.broadcast(vq), "query_id")
        .withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def embedding_cluster_profile(
    embeddings: DataFrame, n_clusters: int = 8
) -> DataFrame:
    """Per-cluster corpus profile under deterministic Voronoi
    assignment (nearest of the first `n_clusters` vectors by cosine,
    quantized ordering + id tie-break — the same replayable
    construction `ann_ivf_topk` gates): (cluster_id, n_members,
    min_sim, max_sim).

    The semantic-coverage report a mixture-balancing pass reads —
    which regions of embedding space dominate the corpus, and how
    tight each cell is.  min/max are ORDER-INDEPENDENT aggregates, so
    the hash gate holds despite cross-engine float summation freedom
    (an avg would re-introduce sum-order ULPs).  One broadcast
    assignment pass + one k-row aggregate; no pair join at all."""
    cents = _with_vec(
        embeddings.where(F.col("vec_id") < n_clusters), "cluster_id", "c_vec", "c_norm"
    )
    corpus = _with_vec(embeddings, "member_id", "m_vec", "m_norm")
    w = Window.partitionBy("member_id").orderBy(*_sim_order("c_sim", "cluster_id"))
    assigned = (
        corpus.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("m_vec", "m_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            qround(F.min("c_sim"), 3).alias("min_sim"),
            qround(F.max("c_sim"), 3).alias("max_sim"),
        )
        .orderBy("cluster_id")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.4, n_blocks: int = 16
) -> DataFrame:
    """All corpus pairs with cosine >= threshold — ORACLE-CALIBRATION
    BASELINE ONLY (O(n²) by construction; the canonical near-dup
    operator is `embedding_neardup_lsh`, which this twin calibrates:
    exact-recall reference for the LSH recall-floor test and the
    DuckDB hash gate).

    The O(n²) is the algorithm, but HOW pairs are generated decides
    the constant: the naive theta-join (`a.join(b, doc_a < doc_b)`)
    plans as BroadcastNestedLoopJoin, which sits OUTSIDE whole-stage
    codegen — every pair's dot product then runs on the interpreted
    expression path (measured ~10 µs/pair; 20+ s for the 2M pairs at
    sf0.1).  Tagging each side with its block id and expanding to the
    `n_blocks` counter-block keys turns pair generation into an EQUI
    join on (ga, gb) — hash-join, codegen-eligible — with the
    doc_a < doc_b filter and the fold evaluated inside the generated
    loop: same pairs, same floats (hash gate unaffected), ~7x less
    wall clock.  The n_blocks× input duplication (vectors ride along)
    is the price, bounded by n_blocks · |corpus| rows — and at any
    real scale this operator is capped to a calibration SAMPLE
    anyway."""
    spark = embeddings.sparkSession
    counter = spark.range(n_blocks).select(F.col("id").cast("int").alias("_k"))
    a = (
        _with_vec(embeddings, "doc_a", "va", "na")
        .withColumn("ga", F.pmod(F.col("doc_a"), F.lit(n_blocks)).cast("int"))
        .crossJoin(F.broadcast(counter.select(F.col("_k").alias("gb"))))
    )
    b = (
        _with_vec(embeddings, "doc_b", "vb", "nb")
        .withColumn("gb", F.pmod(F.col("doc_b"), F.lit(n_blocks)).cast("int"))
        .crossJoin(F.broadcast(counter.select(F.col("_k").alias("ga"))))
    )
    return (
        a.join(b, ["ga", "gb"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("sim", _paired_sim("va", "na", "vb", "nb"))
        .where(F.col("sim") >= threshold)
        .select("doc_a", "doc_b", qround(F.col("sim"), 3).alias("sim"))
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q_vec array<bigint> in [-127,127], scale): symmetric
    per-vector int8 scalar quantization, q = floor(x/scale + 0.5)
    with scale = max|x| / 127.

    int8 storage is 4× smaller than float32 — at 100 TB of
    embeddings that is the difference between a corpus that fits the
    cluster's page cache and one that doesn't, and every broadcast /
    shuffle of the quantized column moves 4× fewer bytes.  The
    rounding convention (floor(x+0.5), round-half-toward-+inf) is two
    IEEE ops, bit-identical cross-engine, so the DuckDB oracle can
    replay quantization exactly.  Zero vectors get scale 0 and stay
    all-zero (NULL-safe division guard)."""
    v = _to_double(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(F.col("scale") == 0, F.transform(F.col("_v"), lambda x: F.lit(0).cast("bigint"))).otherwise(
        F.transform(F.col("_v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)))
    )
    return (
        embeddings.select("vec_id", v.alias("_v"), scale.alias("scale"))
        .withColumn("q_vec", q)
        .select("vec_id", "q_vec", "scale")
    )


def ann_quantized_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5, refine: int = 4
) -> DataFrame:
    """Asymmetric int8 ANN with exact re-rank — the memory-bandwidth
    scale path for brute-force-shaped scans.

    The full corpus pass scores DEQUANTIZED int8 vectors against the
    float queries (4× less data movement — the expensive part of a
    100 TB scan is bytes, not flops), keeps `refine`·k candidates per
    query by quantized similarity, then re-ranks ONLY those
    candidates on the original float vectors (an id-keyed join back
    to the corpus, |Q|·refine·k rows).  Precision of the final
    ordering is exact float cosine; int8 error can only cost recall
    at the candidate cut, bounded by the quantization SNR (~24 dB /
    0.4% per-component — a true neighbor must trail the k-th by the
    accumulated error to be lost).  Output contract identical to
    `ann_bruteforce_topk`."""
    qcorp = quantize_embeddings(embeddings).withColumn(
        "dq", F.transform("q_vec", lambda x: x * F.col("scale"))
    )
    dq_norm = norm(F.col("dq"))
    corpus = qcorp.select(
        F.col("vec_id").alias("neighbor_id"), "dq", dq_norm.alias("dq_norm")
    )
    queries = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec_f", "q_norm"
    )
    approx = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("sim_hat", _paired_sim("q_vec_f", "q_norm", "dq", "dq_norm"))
    w_cut = Window.partitionBy("query_id").orderBy(*_sim_order("sim_hat", "neighbor_id"))
    cand = (
        approx.withColumn("rn", F.row_number().over(w_cut))
        .where(F.col("rn") <= refine * k)
        .select("query_id", "q_vec_f", "q_norm", "neighbor_id")
    )
    exact = cand.join(
        _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm"), "neighbor_id"
    ).withColumn("sim", _paired_sim("q_vec_f", "q_norm", "n_vec", "n_norm"))
    w_rank = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("sim"), 3).alias("sim"),
        )
    )


def ann_recall_report(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Retrieval-quality evaluation AS AN OPERATOR: per query,
    recall@k and MRR of the LSH-bucketed ANN against the exact
    brute-force top-k — (query_id, n_hits, recall_at_k, mrr).

    The approximate index's quality is itself a pipeline output (you
    ship an index only after measuring it), and because BOTH systems
    under test are deterministic here (seeded LSH candidates, exact
    quantized-rank brute force), the entire evaluation hash-gates —
    unlike the recall-FLOOR tests, this pins the exact per-query hit
    sets and ranks.  Metrics are rationals of small integers (n/k,
    1/rank) — one division each, identical IEEE doubles cross-engine.

    Scale: reuses the two ANN operators' plans (broadcast query
    blocks, map-only corpus touches) plus one k·n_queries-row join —
    evaluation cost is dominated by the systems being evaluated, as
    it should be."""
    bf = ann_bruteforce_topk(embeddings, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id"
    )
    lsh = ann_lsh_topk(embeddings, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id", F.col("rank").alias("lsh_rank")
    )
    hits = bf.join(lsh, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.min("lsh_rank").alias("_first"),
    )
    queries = bf.select("query_id").distinct()
    return (
        queries.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            qround(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(k)),
                4,
            ).alias("recall_at_k"),
            qround(
                F.coalesce(
                    F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
                ),
                4,
            ).alias("mrr"),
        )
        .orderBy("query_id")
    )


def ann_matryoshka_overlap(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    prefix_dims: int = 32,
) -> DataFrame:
    """Retrieval-quality check for MATRYOSHKA-style truncated
    embeddings: per query, how much of the full-dimension cosine
    top-k survives when the index stores only the first
    `prefix_dims` coordinates — the decision metric for the
    memory/recall trade a 100 TB vector store actually makes (half
    the dims = half the scan bytes; MRL-trained models front-load
    information precisely so this overlap stays high).

    Both rankings follow the ANN family's cross-engine discipline
    (_sim_order: 3-dp quantized cosine, id tie-break), so the overlap
    counts are deterministic and hash-gate; recall is the exact
    rational n_overlap/k.

    Scale shape: the ≤n_queries query block broadcasts; both
    similarity passes are a single map over the corpus (the truncated
    pass reads prefix_dims/d of the vector bytes — in a columnar
    store with sliced vectors that is a genuine IO cut, here it
    models the scan); the overlap join is top-k-sized."""
    q = embeddings.where(F.col("vec_id") < n_queries)
    full_q = _with_vec(q, "query_id", "q_vec", "q_norm")
    full_c = _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm")

    def _with_prefix(df: DataFrame, id_alias: str, vec: str, n: str) -> DataFrame:
        v = _to_double(F.slice(F.col("embedding"), 1, prefix_dims))
        return df.select(
            F.col("vec_id").alias(id_alias), v.alias(vec), norm(v).alias(n)
        )

    pre_q = _with_prefix(q, "query_id", "q_vec", "q_norm")
    pre_c = _with_prefix(embeddings, "neighbor_id", "n_vec", "n_norm")

    def topk(queries: DataFrame, corpus: DataFrame, d: int) -> DataFrame:
        sims = corpus.join(
            F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
        ).withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm", d))
        w = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "neighbor_id"))
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id")
        )

    full = topk(full_q, full_c, None)
    pre = topk(pre_q, pre_c, None)
    hits = full.join(pre, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap")
    )
    return (
        full.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall_at_k"),
        )
    )


def _hof_l2(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _l2(a: Column, b: Column, dim: int | None = None) -> Column:
    """Euclidean distance with an index-order fold (zip_with preserves
    element order; DuckDB's list_distance sums the same way), so both
    engines accumulate identically before the shared quantization.
    Same dim-hint unroll/per-row-guard contract as `dot`: the unrolled
    chain keeps the HOF's IEEE order (seed 0.0, ascending index), so
    values are bit-identical, and any other row width falls back."""
    if dim is None:
        return _hof_l2(a, b)
    e: Column = F.lit(0.0)
    for i in range(dim):
        d = F.element_at(a, i + 1) - F.element_at(b, i + 1)
        e = e + d * d
    return F.when((F.size(a) == dim) & (F.size(b) == dim), F.sqrt(e)).otherwise(
        _hof_l2(a, b)
    )


def ann_pq_topk(
    embeddings: DataFrame,
    n_subspaces: int = 4,
    n_centroids: int = 16,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN (ADC scan): vectors are ENCODED as
    `n_subspaces` small centroid codes (here 4×16 → 4 bytes per
    64-float vector, a 64× memory compression), and queries score
    against the RECONSTRUCTED centroids — the asymmetric distance
    computation of Jégou et al.'s PQ, the standard billion-vector
    memory layout (FAISS's IVFPQ = the gated IVF partition pruning ×
    THIS encoding; the two compose, this operator isolates the
    quantization half).

    Determinism contract: the codebook uses the first-n rule (subspace
    centroids = sub-slices of vec_id < n_centroids) — the same
    training-free convention the gated IVF oracle pins — and every
    argmin/rank orders by the 6-dp-QUANTIZED distance with an id
    tie-break (the _sim_order discipline).  The per-pair ADC sum is an
    order-pinned fold over the subspace index.

    Scale shape: encoding is one broadcast join of the corpus's
    (vector, subspace) slices against the 64-row codebook — linear in
    the corpus with a constant 64 multiplier, the real PQ encode cost.
    The ADC scan here is exhaustive (|Q|·|corpus| code lookups of
    n_subspaces additions each — the arithmetic-compression win);
    candidate PRUNING is deliberately not this operator's job, it
    composes with the gated IVF probe.  At 100 TB the codes table is
    what fits in RAM: 4 bytes/vector vs 256."""
    slices = _pq_slices(embeddings, n_subspaces)
    codes = _pq_codes(slices, n_centroids)
    queries = slices.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("q_m"), F.col("sv").alias("qsv")
    )
    terms = codes.join(F.broadcast(queries), F.col("m") == F.col("q_m")).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rank(terms, k)


def _pq_slices(embeddings: DataFrame, n_subspaces: int) -> DataFrame:
    """(vec_id, m, sv): each vector split into `n_subspaces` equal
    contiguous sub-vectors."""
    v = _to_double(F.col("embedding"))
    base = embeddings.select(F.col("vec_id"), v.alias("v"))
    w_len = F.floor(F.size("v") / n_subspaces).cast("int")
    sub = F.explode(
        F.array(*[F.lit(m) for m in range(n_subspaces)])
    ).alias("m")
    return base.select("vec_id", "v", sub).select(
        "vec_id",
        "m",
        F.slice("v", (F.col("m") * w_len + 1).cast("int"), w_len).alias("sv"),
    )


def _pq_codes(
    slices: DataFrame, n_centroids: int, sub_dim: int | None = None
) -> DataFrame:
    """(neighbor_id, m, j, cv): each vector's per-subspace nearest
    codebook entry (first-n-rule codebook; 6-dp-quantized L2 argmin
    with index tie-break) — the PQ ENCODE step, one broadcast join of
    the corpus slices against the (n_subspaces × n_centroids)-row
    codebook.  `sub_dim` = static sub-vector width, the _l2 unroll
    hint (guarded per row, so it is only ever a speedup)."""
    cb = slices.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("j"), F.col("m").alias("cb_m"), F.col("sv").alias("cv")
    )
    enc_scored = slices.join(
        F.broadcast(cb), F.col("m") == F.col("cb_m")
    ).withColumn("d", _l2(F.col("sv"), F.col("cv"), sub_dim))
    w_enc = Window.partitionBy("vec_id", "m").orderBy(
        F.asc(qround(F.col("d"), 6)), F.asc("j")
    )
    return (
        enc_scored.withColumn("rn", F.row_number().over(w_enc))
        .where(F.col("rn") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "m", "j", "cv")
    )


def _adc_rank(terms: DataFrame, k: int, sub_dim: int | None = None) -> DataFrame:
    """Top-k per query from (query_id, neighbor_id, m, qsv, cv) rows:
    quantized per-subspace distances, order-pinned fold over m,
    quantized-rank window."""
    scored = terms.select(
        "query_id",
        "neighbor_id",
        "m",
        qround(_l2(F.col("qsv"), F.col("cv"), sub_dim), 6).alias("term"),
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("m", "term"))),
        F.lit(0.0),
        lambda acc, s: acc + s["term"],
    )
    adc = scored.groupBy("query_id", "neighbor_id").agg(folded.alias("dist"))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc(qround(F.col("dist"), 6)), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            qround(F.col("dist"), 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    n_clusters: int = 8,
    n_probe: int = 2,
    n_subspaces: int = 4,
    n_centroids: int = 16,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """IVFPQ: the gated IVF COARSE quantizer (cosine cells, first-8
    centroids, 2-cell probes — candidate PRUNING) composed with the
    gated PQ FINE quantizer (4×16 codebooks, ADC scoring — memory +
    arithmetic compression).  This is FAISS's billion-scale default
    layout re-expressed relationally: the probe prunes the candidate
    join to ~n_probe/n_clusters of the corpus, and each surviving
    candidate costs n_subspaces code-table additions instead of a
    D-dim dot product.  Every stage keeps its parent operator's
    determinism contract (quantized argmins, id tie-breaks,
    order-pinned ADC fold), so the composed DuckDB oracle
    hash-matches end-to-end.

    Scale shape: assignment/encode are broadcast passes (linear, tiny
    constant); the candidate join is cluster-keyed (partition-pruned
    at 100 TB with cluster_id as the layout key, exactly like
    ann_ivf_topk_indexed); no stage widens beyond the probed cells."""
    # coarse: IVF cell assignment + query probes (ann_ivf_topk's algebra)
    cents = _with_vec(
        embeddings.where(F.col("vec_id") < n_clusters),
        "cluster_id",
        "c_vec",
        "c_norm",
    )
    corpus = _with_vec(embeddings, "neighbor_id", "n_vec", "n_norm")
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        *_sim_order("c_sim", "cluster_id")
    )
    assigned = (
        corpus.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("n_vec", "n_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("neighbor_id", "cluster_id")
    )
    queries_full = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec", "q_norm"
    )
    w_probe = Window.partitionBy("query_id").orderBy(*_sim_order("c_sim", "cluster_id"))
    probes = (
        queries_full.join(F.broadcast(cents))
        .withColumn("c_sim", _paired_sim("q_vec", "q_norm", "c_vec", "c_norm"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "cluster_id")
    )
    # fine: PQ codes for the corpus, ADC over probed-cell candidates
    slices = _pq_slices(embeddings, n_subspaces)
    codes = _pq_codes(slices, n_centroids).join(assigned, "neighbor_id")
    q_slices = slices.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_query_id"),
        F.col("m").alias("q_m"),
        F.col("sv").alias("qsv"),
    )
    cand = codes.join(F.broadcast(probes), "cluster_id")
    terms = (
        cand.join(
            F.broadcast(q_slices),
            (F.col("m") == F.col("q_m"))
            & (F.col("query_id") == F.col("q_query_id")),
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .drop("q_query_id", "q_m")
    )
    return _adc_rank(terms, k)
