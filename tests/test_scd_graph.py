"""SCD2 merge invariants and PageRank properties."""

from __future__ import annotations

import os

from analysisofuserbehavior_spark.operators.graph import pagerank
from analysisofuserbehavior_spark.operators.scd import scd2_apply

DIM_SCHEMA = "k long, attr string, valid_from string, valid_to string"
UPD_SCHEMA = "k long, attr string, eff string"


def _apply(spark, cur_rows, upd_rows):
    cur = spark.createDataFrame(cur_rows, DIM_SCHEMA)
    upd = spark.createDataFrame(upd_rows, UPD_SCHEMA)
    out = scd2_apply(cur, upd, key="k", tracked=("attr",), eff_col="eff")
    return {tuple(r) for r in out.collect()}


def test_scd2_versions_changed_rows_and_keeps_history(spark):
    got = _apply(
        spark,
        [
            (1, "gold", "2024-01-01", None),       # will change
            (2, "silver", "2024-01-01", None),     # no update
            (1, "bronze", "2023-01-01", "2024-01-01"),  # closed history
        ],
        [(1, "platinum", "2024-06-01"), (9, "new", "2024-06-01")],
    )
    assert got == {
        (1, "bronze", "2023-01-01", "2024-01-01"),   # history untouched
        (1, "gold", "2024-01-01", "2024-06-01"),     # closed
        (1, "platinum", "2024-06-01", None),         # re-opened
        (2, "silver", "2024-01-01", None),           # carried
        (9, "new", "2024-06-01", None),              # inserted
    }


def test_scd2_identical_update_is_not_versioned(spark):
    got = _apply(
        spark,
        [(1, "gold", "2024-01-01", None)],
        [(1, "gold", "2024-06-01")],
    )
    assert got == {(1, "gold", "2024-01-01", None)}


def test_scd2_null_transitions_are_versioned(spark):
    got = _apply(
        spark,
        [(1, None, "2024-01-01", None), (2, "x", "2024-01-01", None)],
        [(1, "set", "2024-06-01"), (2, None, "2024-06-01")],
    )
    assert got == {
        (1, None, "2024-01-01", "2024-06-01"),
        (1, "set", "2024-06-01", None),
        (2, "x", "2024-01-01", "2024-06-01"),
        (2, None, "2024-06-01", None),
    }


def test_scd2_single_shuffle_plan(spark):
    from analysisofuserbehavior_spark import plans

    cur = spark.createDataFrame([(1, "a", "2024-01-01", None)], DIM_SCHEMA)
    upd = spark.createDataFrame([(1, "b", "2024-06-01")], UPD_SCHEMA)
    out = scd2_apply(cur, upd, key="k", tracked=("attr",), eff_col="eff")
    # one join → at most one exchange per side feeding it; the five
    # union branches must REUSE the join, not re-execute it per branch
    plan = plans.executed_plan(out)
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 5


def test_pagerank_uniform_on_cycle(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], "src string, dst string, weight long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    # symmetric cycle → exactly uniform at every iteration
    assert all(abs(v - 1 / 3) < 1e-6 for v in got.values()), got


def test_pagerank_star_center_dominates_and_mass_conserved(spark):
    edges = spark.createDataFrame(
        [("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1), ("hub", "a", 1)],
        "src string, dst string, weight long",
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert got["hub"] == max(got.values())
    # no dangling nodes in this graph → total rank mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-5


from hypothesis import HealthCheck, given, settings, strategies as st

_attrs = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))


@st.composite
def _scd_cases(draw):
    keys = list(range(1, 7))
    open_rows = [
        (k, draw(_attrs), "2024-01-01", None)
        for k in keys
        if draw(st.booleans())
    ]
    hist_rows = [
        (k, "old", "2023-01-01", "2024-01-01") for k in keys if draw(st.booleans())
    ]
    upd_keys = draw(st.lists(st.sampled_from(range(1, 9)), unique=True, max_size=6))
    upd_rows = [(k, draw(_attrs), "2024-06-01") for k in upd_keys]
    return open_rows + hist_rows, upd_rows


def _scd2_model(cur_rows, upd_rows):
    """Pure-Python SCD2 reference model."""
    out = set()
    open_by_key = {}
    for k, attr, vfrom, vto in cur_rows:
        if vto is None:
            open_by_key[k] = (attr, vfrom)
        else:
            out.add((k, attr, vfrom, vto))  # closed history verbatim
    upd_by_key = dict((k, (attr, eff)) for k, attr, eff in upd_rows)
    for k, (attr, vfrom) in open_by_key.items():
        if k not in upd_by_key:
            out.add((k, attr, vfrom, None))
        else:
            u_attr, eff = upd_by_key[k]
            if u_attr == attr:
                out.add((k, attr, vfrom, None))
            else:
                out.add((k, attr, vfrom, eff))
                out.add((k, u_attr, eff, None))
    for k, (u_attr, eff) in upd_by_key.items():
        if k not in open_by_key:
            out.add((k, u_attr, eff, None))
    return out


@given(_scd_cases())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_matches_reference_model(spark, case):
    cur_rows, upd_rows = case
    if not cur_rows and not upd_rows:
        return
    got = _apply(spark, cur_rows, upd_rows)
    assert got == _scd2_model(cur_rows, upd_rows)


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from analysisofuserbehavior_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "now-set"), (5, "e")], "k long, v string"
    )
    got = {(r["k"], r["change"]) for r in snapshot_diff(old, new, "k", ("v",)).collect()}
    # k=1 unchanged → absent; null→value is 'changed' (null-safe cmp)
    assert got == {(2, "changed"), (3, "changed"), (4, "removed"), (5, "added")}


def test_sweep_line_backlog_equals_explode_counting(spark):
    """+1/−1 sweep-line backlog must equal the brute-force per-day
    interval count on a frame with overlapping + disjoint orders."""
    import datetime as dt

    days = [dt.date(2024, 1, d) for d in (1, 2, 5, 20)]
    orders = spark.createDataFrame(
        [(i, d) for i, d in enumerate(days)], "o_orderkey long, o_orderdate date"
    )
    orders.createOrReplaceTempView("_sw_orders")
    import os, tempfile

    with tempfile.TemporaryDirectory() as td:
        orders.write.mode("overwrite").parquet(os.path.join(td, "orders.parquet"))
        from analysisofuserbehavior_spark.registry import QUERIES

        got = {r["day"]: r["open_orders"] for r in QUERIES["open_orders_daily"](spark, td).collect()}
    # brute force: for each delta day, count orders with
    # open <= day < open+30
    for day_s, n in got.items():
        day = dt.date.fromisoformat(day_s)
        brute = sum(1 for d in days if d <= day < d + dt.timedelta(days=30))
        assert n == brute, (day_s, n, brute)


from hypothesis import HealthCheck, given, settings, strategies as st


@given(st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=12))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sweep_line_property_vs_bruteforce(spark, day_offsets):
    """Backlog via ±1 deltas ≡ brute-force per-day interval count on
    arbitrary (duplicate-heavy) open-day multisets."""
    import datetime as dt
    import os
    import tempfile

    base = dt.date(2024, 1, 1)
    days = [base + dt.timedelta(days=o) for o in day_offsets]
    orders = spark.createDataFrame(
        [(i, d) for i, d in enumerate(days)], "o_orderkey long, o_orderdate date"
    )
    with tempfile.TemporaryDirectory() as td:
        orders.write.mode("overwrite").parquet(os.path.join(td, "orders.parquet"))
        from analysisofuserbehavior_spark.registry import QUERIES

        got = {
            r["day"]: r["open_orders"]
            for r in QUERIES["open_orders_daily"](spark, td).collect()
        }
    for day_s, n in got.items():
        day = dt.date.fromisoformat(day_s)
        brute = sum(1 for d in days if d <= day < d + dt.timedelta(days=30))
        assert n == brute, (day_s, n, brute)


def test_triangle_count_degree_orientation(spark):
    """K4 has exactly 4 triangles; duplicate directed edges,
    reversed edges and self-loops must all canonicalize away; a
    path graph has none."""
    from analysisofuserbehavior_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a != b]  # both directions
    edges = spark.createDataFrame(
        k4 + [("a", "a"), ("a", "b")], "src string, dst string"
    )
    assert triangle_count(edges).first()["n_triangles"] == 4
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    assert triangle_count(path).first()["n_triangles"] == 0


def test_bfs_min_depth_on_chain_with_shortcut(spark):
    """BFS must report MINIMUM hop counts: a direct shortcut edge
    beats the long path, and nodes beyond max_depth are absent."""
    from analysisofuserbehavior_spark.operators.graph import bfs_depths
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (4, 9)],
        "src long, dst long",
    )
    source = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, source, max_depth=3).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2, 9: 3}
    # tighter bound prunes the tail
    got2 = {r["node"]: r["depth"] for r in bfs_depths(edges, source, max_depth=2).collect()}
    assert 9 not in got2 and got2[4] == 2


def test_bfs_terminates_on_cycle(spark):
    """A directed cycle must not loop or re-label visited nodes."""
    from analysisofuserbehavior_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    source = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, source, max_depth=10).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_bfs_matches_python_model_on_random_graphs(spark):
    """Randomized model check: frontier-expansion BFS equals a
    straight-line Python BFS on 10 random directed graphs."""
    import random
    from collections import deque
    from analysisofuserbehavior_spark.operators.graph import bfs_depths

    rng = random.Random(11)
    for trial in range(10):
        n = rng.randint(4, 12)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        if not edges:
            continue
        src = min(e[0] for e in edges)
        # python BFS
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        want, dq = {src: 0}, deque([src])
        while dq:
            u = dq.popleft()
            if want[u] >= 6:
                continue
            for v in adj.get(u, []):
                if v not in want:
                    want[v] = want[u] + 1
                    dq.append(v)
        e_df = spark.createDataFrame(edges, "src long, dst long")
        s_df = spark.createDataFrame([(src,)], "node long")
        got = {r["node"]: r["depth"] for r in bfs_depths(e_df, s_df, max_depth=6).collect()}
        assert got == want, (trial, edges)
