"""Targeted unit tests for the round-12 operators.

Each operator is checked against an independent Python/numpy
reference on small controlled inputs (one Spark job each), plus the
operator-specific semantic properties the oracle hash alone can't
express (LSH recall floor, covariance-vs-numpy agreement, LPA
community structure, smoothing monotonicity).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Row, functions as F


def _md5_prefix32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# ---- featurization -------------------------------------------------------


def test_feature_hash_matches_python_reference(spark):
    from analysisofuserbehavior_spark.operators.featurization import (
        feature_hash_docs,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(
            ["alpha beta alpha", "beta gamma", "alpha alpha alpha"]
        )]
    )
    got = {
        (r.doc_id, r.dim_id): r.feat
        for r in feature_hash_docs(docs, dim=64, sample_docs=3).collect()
    }
    want: dict[tuple[int, int], int] = {}
    for i, t in enumerate(["alpha beta alpha", "beta gamma", "alpha alpha alpha"]):
        for tok in t.split(" "):
            h = _md5_prefix32(tok)
            sign = 1 if (h // 64) % 2 == 1 else -1
            key = (i, h % 64)
            want[key] = want.get(key, 0) + sign
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_target_encode_shrinks_rare_categories_toward_prior(spark, sf_dir):
    from analysisofuserbehavior_spark.registry import QUERIES

    rows = QUERIES["target_encode_category"](spark, sf_dir).collect()
    assert rows, "encoder produced no categories"
    prior = rows[0].prior
    for r in rows:
        raw = r.n_target / r.n_events
        # smoothing pulls the encode strictly between the raw rate and
        # the prior (or equals both when raw == prior)
        lo, hi = sorted((raw, prior))
        assert lo - 1e-6 <= r.encoded <= hi + 1e-6, (r, prior)
        # shrinkage weight matches m=20 algebra
        want = (r.n_target + 20.0 * prior) / (r.n_events + 20.0)
        assert abs(r.encoded - want) < 1e-5


# ---- ann_lsh_topk --------------------------------------------------------


def test_ann_lsh_sims_exact_and_recall_floor(spark, sf_dir):
    """Precision over candidates is EXACT (every returned sim equals
    the brute-force sim for that pair); recall vs brute force stays
    above the geometry's floor at this band configuration."""
    from analysisofuserbehavior_spark.registry import QUERIES

    lsh = QUERIES["ann_lsh_topk"](spark, sf_dir).collect()
    bf = QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    bf_sims = {(r.query_id, r.neighbor_id): r.sim for r in bf}
    lsh_pairs = {(r.query_id, r.neighbor_id) for r in lsh}
    for r in lsh:
        key = (r.query_id, r.neighbor_id)
        if key in bf_sims:  # brute force only materializes its top-k
            assert abs(r.sim - bf_sims[key]) < 1e-9
    recall = len(lsh_pairs & set(bf_sims)) / len(bf_sims)
    assert recall >= 0.6, f"LSH recall {recall:.2f} under floor"


# ---- label propagation ---------------------------------------------------


def test_label_propagation_separates_disjoint_cliques(spark):
    from analysisofuserbehavior_spark.operators.graph import label_propagation

    # two disjoint triangles: {1,2,3} and {10,11,12}
    edges = spark.createDataFrame(
        [
            Row(src=1, dst=2, weight=1),
            Row(src=2, dst=3, weight=1),
            Row(src=1, dst=3, weight=1),
            Row(src=10, dst=11, weight=1),
            Row(src=11, dst=12, weight=1),
            Row(src=10, dst=12, weight=1),
        ]
    )
    got = {r.node: r.community for r in label_propagation(edges, rounds=3).collect()}
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1
    assert got[1] != got[10]


def test_label_propagation_argmax_and_tie_rule(spark):
    """One synchronous round pins the update rule exactly: heaviest
    incident label wins; equal weights break to the SMALLEST label
    (the determinism contract the unrolled-CTE oracle replays)."""
    from analysisofuserbehavior_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [
            Row(src=1, dst=2, weight=1),
            Row(src=1, dst=3, weight=5),  # heavier -> 1 adopts 3
            Row(src=7, dst=8, weight=5),
            Row(src=7, dst=9, weight=5),  # tie -> 7 adopts min(8, 9)
        ]
    )
    got = {r.node: r.community for r in label_propagation(edges, rounds=1).collect()}
    assert got[1] == 3
    assert got[7] == 8


# ---- embedding covariance ------------------------------------------------


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    import numpy as np

    from analysisofuserbehavior_spark.registry import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    m = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    q = np.floor(m * 10_000.0 + 0.5) / 10_000.0
    want = np.cov(q, rowvar=False)  # n-1 normalization, like the operator
    got = QUERIES["embedding_covariance"](spark, sf_dir).collect()
    assert len(got) == 64 * 65 // 2
    for r in got:
        assert abs(r.cov - want[r.i - 1, r.j - 1]) < 1e-6, (r.i, r.j)


def test_embedding_covariance_diagonal_nonnegative(spark, sf_dir):
    from analysisofuserbehavior_spark.registry import QUERIES

    got = QUERIES["embedding_covariance"](spark, sf_dir).collect()
    assert all(r.cov >= 0 for r in got if r.i == r.j)


# ---- collocations --------------------------------------------------------


def test_collocations_pmi_formula_on_controlled_corpus(spark):
    from analysisofuserbehavior_spark.operators.text_analysis import (
        collocations_pmi,
    )

    # "new york" always adjacent (3x); fillers independent
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="new york is big"),
            Row(doc_id=2, text="new york is old"),
            Row(doc_id=3, text="big old new york"),
        ]
    )
    got = {(r.tok_a, r.tok_b): r for r in collocations_pmi(docs, min_count=3).collect()}
    assert ("new", "york") in got
    r = got[("new", "york")]
    n_tok = 12.0
    n_big = 9.0
    want = math.log2((3.0 / n_big) / ((3.0 / n_tok) * (3.0 / n_tok)))
    assert abs(r.pmi - math.floor(want * 1e6 + 0.5) / 1e6) < 1e-9
    assert r.c_xy == 3


def test_collocations_top_ranked_by_pmi(spark, sf_dir):
    from analysisofuserbehavior_spark.registry import QUERIES

    rows = QUERIES["collocations_pmi"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r.c_xy >= 3 for r in rows)


# ---- robust spend stats --------------------------------------------------


def test_winsorized_mean_resists_whale(spark):
    """A 10^6x whale moves the raw mean but not the winsorized or
    trimmed means (the operator's reason to exist)."""
    from analysisofuserbehavior_spark.operators.engagement import (
        winsorized_user_spend,
    )

    base = [
        Row(event_type="purchase", user_id=i, value=10.0) for i in range(40)
    ]
    whale = [Row(event_type="purchase", user_id=999, value=10_000_000.0)]
    noise = [Row(event_type="click", user_id=1, value=77.0)]
    df = spark.createDataFrame(base + whale + noise)
    r = winsorized_user_spend(df).collect()[0]
    assert r.n_users == 41
    assert r.mean_spend > 1000.0  # raw mean dragged by the whale
    assert r.winsorized_mean_spend == 10.0
    assert r.trimmed_mean_spend == 10.0
    assert r.p05_spend == 10.0 and r.p95_spend == 10.0


def test_winsorized_thresholds_exact_ranks(spark):
    """20 distinct spends: p05 = rank-1 value (r*20>=20), p95 =
    rank-19 value (r*20>=380) — the integer inverse-CDF contract."""
    from analysisofuserbehavior_spark.operators.engagement import (
        winsorized_user_spend,
    )

    df = spark.createDataFrame(
        [Row(event_type="purchase", user_id=i, value=float(i + 1)) for i in range(20)]
    )
    r = winsorized_user_spend(df).collect()[0]
    assert r.p05_spend == 1.0
    assert r.p95_spend == 19.0


# ---- idempotent backfill -------------------------------------------------


def test_overwrite_day_partitions_touches_only_written_days(spark, tmp_path):
    import datetime

    from analysisofuserbehavior_spark.plans.layout import overwrite_day_partitions

    def ev(day, n, val):
        return [
            Row(
                event_id=day * 1000 + i,
                ts=datetime.datetime(2024, 1, day, 12, 0, i),
                value=val,
            )
            for i in range(n)
        ]

    path = str(tmp_path / "facts")
    overwrite_day_partitions(
        spark.createDataFrame(ev(1, 3, 1.0) + ev(2, 3, 1.0) + ev(3, 3, 1.0)), path
    )
    # re-run day 2 only, with different rows (2 instead of 3)
    overwrite_day_partitions(spark.createDataFrame(ev(2, 2, 9.0)), path)
    # partition-column type inference reads `day` back as DATE —
    # normalize to the string form for comparisons
    got = spark.read.parquet(path).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    )
    per_day = {r.day: r.n for r in got.groupBy("day").agg(F.count("*").alias("n")).collect()}
    assert per_day == {"2024-01-01": 3, "2024-01-02": 2, "2024-01-03": 3}
    # day-2 rows are the NEW ones, other days untouched
    assert {r.value for r in got.where(F.col("day") == "2024-01-02").collect()} == {9.0}
    assert {r.value for r in got.where(F.col("day") != "2024-01-02").collect()} == {1.0}
    # pruned read still works over the mixed-generation layout
    pruned = spark.read.parquet(path).where(F.col("day").between("2024-01-01", "2024-01-01"))
    assert pruned.count() == 3
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"
    )


# ---- count-min sketch ----------------------------------------------------


def test_countmin_never_underestimates_and_is_exact_without_collisions(spark):
    from analysisofuserbehavior_spark.operators.text_analysis import (
        countmin_token_freq,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b b c"),
            Row(doc_id=2, text="a b d e"),
        ]
    )
    rows = countmin_token_freq(docs, top=10).collect()
    got = {r.token: r for r in rows}
    assert set(got) == {"a", "b", "c", "d", "e"}
    for r in rows:
        assert r.cm_estimate >= r.true_count  # the CM guarantee
        assert r.overestimate == r.cm_estimate - r.true_count
    # 5 tokens in 4x1024 cells: collisions are (provably, via the
    # actual md5 buckets) absent, so estimates are exact
    assert all(r.overestimate == 0 for r in rows)
    assert got["a"].true_count == 4 and got["b"].true_count == 3


def test_countmin_guarantee_on_corpus(spark, sf_dir):
    from analysisofuserbehavior_spark.registry import QUERIES

    rows = QUERIES["countmin_token_freq"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.cm_estimate >= r.true_count for r in rows)


# ---- recursive CTE reachability ------------------------------------------


def test_recursive_cte_reachability_matches_frontier_bfs(spark, sf_dir):
    """The Spark-executed WITH RECURSIVE twin must agree with the
    path-free frontier loop on the same edges at the same bound."""
    from analysisofuserbehavior_spark.operators.graph import bfs_depths
    from analysisofuserbehavior_spark.operators.page_flow import page_splits
    from analysisofuserbehavior_spark.registry import QUERIES, _actions

    rcte = {
        (r.node, r.depth)
        for r in QUERIES["page_reachability_sql"](spark, sf_dir).collect()
    }
    splits = page_splits(_actions(spark, sf_dir), flow_col="page_id")
    edges = (
        splits.where(F.col("split").isNotNull())
        .select(
            F.split("split", "_").getItem(0).cast("bigint").alias("src"),
            F.split("split", "_").getItem(1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    source = edges.agg(F.min("src").alias("node"))
    frontier = {
        (r.node, r.depth) for r in bfs_depths(edges, source, max_depth=3).collect()
    }
    assert rcte == frontier


def test_streaming_countmin_crosses_batches(spark, sf_dir):
    """The replay really exercises the merge: users recur across the
    14-day split, so per-batch sketches MUST be added (not unioned /
    overwritten) for the gate's batch oracle to match.  Pin that the
    overlap is non-trivial, and that the estimates obey the CM
    guarantee."""
    import datetime

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = ev.agg(F.min("ts")).first()[0] + datetime.timedelta(days=14)
    a = {r.user_id for r in ev.where(F.col("ts") <= split).select("user_id").distinct().collect()}
    b = {r.user_id for r in ev.where(F.col("ts") > split).select("user_id").distinct().collect()}
    assert len(a & b) >= 10, "fixture lost its cross-batch key overlap"

    from analysisofuserbehavior_spark.registry import QUERIES

    rows = QUERIES["streaming_countmin_merge"](spark, sf_dir).collect()
    assert rows and all(r.cm_estimate >= r.true_count for r in rows)


def test_user_behavior_profile_entropy_semantics(spark):
    """Uniform 4-page user hits H=2 bits; single-page bot hits H=0;
    burst column catches the 1-minute hammer."""
    import datetime

    from analysisofuserbehavior_spark.operators.engagement import (
        user_behavior_profile,
    )

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    # user 1: 4 pages x 2 visits, spread over minutes
    for i in range(8):
        rows.append(
            Row(
                user_id=1,
                session_id="s1",
                page_id=i % 4,
                ts=t0 + datetime.timedelta(minutes=i),
            )
        )
    # user 2: one page, 60 hits inside one minute
    for i in range(60):
        rows.append(
            Row(
                user_id=2,
                session_id="s2",
                page_id=7,
                ts=t0 + datetime.timedelta(seconds=i),
            )
        )
    got = {r.user_id: r for r in user_behavior_profile(spark.createDataFrame(rows)).collect()}
    assert got[1].nav_entropy == 2.0
    assert got[1].max_events_min == 1
    assert got[2].nav_entropy == 0.0
    assert got[2].max_events_min == 60
    assert got[2].n_pages == 1 and got[1].n_pages == 4


def test_mad_flags_spike_that_zscore_masking_would_hide(spark):
    """21 flat days + one outage (0) + one spike: the outage inflates
    a mean/stddev baseline, but median/MAD stay at the flat level, so
    the spike still flags — the robust monitor's reason to exist."""
    import datetime

    from analysisofuserbehavior_spark.registry import QUERIES

    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for d in range(23):
        if d == 10:
            n = 0  # outage day: no events at all
        elif d == 20:
            n = 500  # spike
        else:
            n = 100
        for i in range(n):
            rows.append(
                (eid, t0 + datetime.timedelta(days=d, seconds=i), 1, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.createOrReplaceTempView("_mad_events")
    # drive the operator logic directly over this frame via the
    # registry function's internals: reuse the query with a temp
    # parquet dir
    import tempfile

    work = tempfile.mkdtemp(prefix="mad_t_")
    df.write.mode("overwrite").parquet(f"{work}/events.parquet")
    out = {r.day: r for r in QUERIES["daily_anomaly_mad"](spark, work).collect()}
    spike_day = (t0 + datetime.timedelta(days=20)).strftime("%Y-%m-%d")
    flat_day = (t0 + datetime.timedelta(days=3)).strftime("%Y-%m-%d")
    assert out[spike_day].is_anomaly
    assert not out[flat_day].is_anomaly
    assert out[spike_day].med == 100 and out[spike_day].mad == 0


def test_streaming_outer_attribution_emits_and_suppresses_by_watermark(spark, sf_dir):
    """NULL-view rows exist (unmatched clicks proven unmatchable) and
    every suppressed unmatched click sits INSIDE the final watermark
    delay — the eviction cutoff the oracle reproduces."""
    from analysisofuserbehavior_spark.registry import QUERIES

    rows = QUERIES["streaming_click_attribution_outer"](spark, sf_dir).collect()
    nulls = [r for r in rows if r.view_id is None]
    assert nulls, "no eviction-driven null rows emitted"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    maxes = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    )
    import datetime

    wm = min(r.m for r in maxes) - datetime.timedelta(hours=1)
    clicks = {
        r.event_id: r.ts
        for r in ev.where(F.col("event_type") == "click").collect()
    }
    emitted_null = {r.click_id for r in nulls}
    matched = {r.click_id for r in rows if r.view_id is not None}
    for cid, ts in clicks.items():
        if cid in emitted_null:
            assert ts < wm, f"null emitted for click inside the delay: {cid}"
        elif cid not in matched:
            assert ts >= wm, f"unmatched click outside the delay suppressed: {cid}"
