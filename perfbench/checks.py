"""Independent checks of op outputs, run outside the timed section.

Each check returns a list of problems; an empty list means the op's
output matched.  The reference results come from other engines than
the one under test: DuckDB running the engine's own oracle SQL
(`analysisofuserbehavior_spark.oracle`), pandas, or plain Python.
"""

from __future__ import annotations

import math
from collections import defaultdict, deque

import duckdb
import numpy as np
import pandas as pd

from analysisofuserbehavior_spark import oracle as _oracle

ORACLE = _oracle.ORACLE
_RANGE_LO = "ts >= TIMESTAMP '2024-01-03 00:00:00'"
_RANGE_HI = "ts < TIMESTAMP '2024-01-29 00:00:00'"


def _sub(sql: str, pairs: list[tuple[str, str]]) -> str:
    """str.replace that insists every pattern occurs — a silent miss
    would check against the oracle's fixed demo parameters."""
    for old, new in pairs:
        if old not in sql:
            raise KeyError(f"oracle template lost {old!r}")
        sql = sql.replace(old, new)
    return sql


def next_day(day: str) -> str:
    return str((pd.Timestamp(day) + pd.Timedelta(days=1)).date())


def _ranged(sql: str, start: str, end_incl: str) -> str:
    return _sub(sql, [
        (_RANGE_LO, f"ts >= TIMESTAMP '{start} 00:00:00'"),
        (_RANGE_HI, f"ts < TIMESTAMP '{next_day(end_incl)} 00:00:00'"),
    ])


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the benchmark's tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("region", "nation", "customer", "part", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ---- comparison -------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype).lower()
        if kind == "object" or kind.startswith("string"):
            df[c] = df[c].astype(str)
        elif "int" in kind:
            df[c] = df[c].astype("int64")
        elif "float" in kind or "decimal" in kind:
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} != {len(b)}"]
    problems = []
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype == "float64":
            bad = ~np.isclose(av, bv.astype("float64"), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            bad = av != bv
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"{c}: {int(bad.sum())} differ, e.g. {av[i]!r} != {bv[i]!r}")
    return problems


# ---- module_tasks -----------------------------------------------------------

CHECKED_TABLE = {
    "session": "session_aggr_stat",
    "page": "page_split_convert_rate",
    "area": "area_top3_product",
    "ad": "ad_province_top3",
}


def module_oracle_sql(task) -> str:
    """The oracle SQL for one task: the `run_task_*` entry with its
    fixed demo range and filters replaced by the task's own."""
    import json

    p = json.loads(task.task_json)
    if task.kind == "session":
        kws = ", ".join(f"'{k}'" for k in p["keywords"][0].split(","))
        sql = _sub(ORACLE["run_task_session_aggr"], [
            ("u.age >= 10 AND u.age <= 55",
             f"u.age >= {p['startAge'][0]} AND u.age <= {p['endAge'][0]}"),
            ("u.sex = 'male'", f"u.sex = '{p['sex'][0]}'"),
            ("['click', 'view']", f"[{kws}]"),
            ("s.day >= '2024-01-03' AND s.day <= '2024-01-28'",
             f"s.day >= '{task.start}' AND s.day <= '{task.end}'"),
        ])
    elif task.kind == "page":
        flow = p["targetPageFlow"][0].split(",")
        splits = [f"{a}_{b}" for a, b in zip(flow, flow[1:])]
        sql = _sub(ORACLE["run_task_page_convert"], [
            ("'view_click', 'click_purchase', 'purchase_signup'",
             ", ".join(f"'{s}'" for s in splits)),
            ("(1, 'view_click'), (2, 'click_purchase'), (3, 'purchase_signup')",
             ", ".join(f"({i + 1}, '{s}')" for i, s in enumerate(splits))),
            ("WHERE event_type = 'view'", f"WHERE event_type = '{flow[0]}'"),
        ])
    elif task.kind == "area":
        sql = ORACLE["run_task_area_top3"]
    else:
        sql = ORACLE["run_task_ad_province_top3"]
    return _ranged(sql, task.start, task.end)


def check_module_task(con, task, got: pd.DataFrame) -> list[str]:
    return compare(got, con.execute(module_oracle_sql(task)).fetchdf())


# ---- ad_click_stream --------------------------------------------------------


def _clicks(rows: pd.DataFrame) -> pd.DataFrame:
    c = rows[rows["event_type"] == "click"].copy()
    c["day"] = pd.to_datetime(c["ts"]).dt.strftime("%Y-%m-%d")
    c["ad_id"] = c["props"].str.extract(r"(\d+)")[0].astype("int64") % 10
    return c


def expected_click_totals(rows: pd.DataFrame) -> pd.DataFrame:
    """The batch groupBy over the replayed files: clicks per (day, ad)."""
    return (_clicks(rows).groupby(["day", "ad_id"]).size()
            .rename("click_count").reset_index())


def expected_blacklist_totals(batches: list[pd.DataFrame], threshold: int) -> pd.DataFrame:
    """The blacklist feedback loop replayed in pandas: each batch's
    clicks from users already over the threshold are dropped before
    they are added to the (day, user, ad) totals."""
    totals: dict[tuple, int] = defaultdict(int)
    for rows in batches:
        black = {u for (_d, u, _a), n in totals.items() if n >= threshold}
        c = _clicks(rows)
        c = c[~c["user_id"].isin(black)]
        for key, n in c.groupby(["day", "user_id", "ad_id"]).size().items():
            totals[key] += int(n)
    return pd.DataFrame(
        [(d, u, a, n) for (d, u, a), n in totals.items()],
        columns=["day", "user_id", "ad_id", "click_count"],
    )


# ---- corpus_ingest ----------------------------------------------------------


def check_store_index(store_rows: int, index_docs: int) -> list[str]:
    if store_rows != index_docs:
        return [f"store holds {store_rows} docs, index stats count {index_docs}"]
    return []


def check_replay(before: tuple[int, int], after: tuple[int, int]) -> list[str]:
    if before != after:
        return [f"re-submission moved (store, index) counts {before} -> {after}"]
    return []


def check_topk(got: pd.DataFrame, stored_ids: set[int], k: int) -> list[str]:
    problems = []
    if len(got) > k:
        problems.append(f"{len(got)} rows for top-{k}")
    if not set(got["doc_id"]).issubset(stored_ids):
        problems.append("top-k returned a doc that is not in the store")
    scores = got.sort_values("rank")["bm25"].to_numpy() if "rank" in got else got["bm25"].to_numpy()
    if len(scores) and not (np.all(np.isfinite(scores)) and np.all(scores > 0)):
        problems.append("non-positive or non-finite bm25 score")
    return problems


# ---- iterative_loops --------------------------------------------------------


def clusters_oracle(docs_path: str, where: str = "true") -> pd.DataFrame:
    """The CC oracle (DuckDB recursive closure) over a doc parquet."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}') WHERE {where}"
        )
        return con.execute(ORACLE["dedup_clusters"]).fetchdf()
    finally:
        con.close()


def _events_between(start: str, end_excl: str) -> tuple[str, str]:
    return ("FROM events e",
            f"FROM (SELECT * FROM events WHERE ts >= TIMESTAMP '{start}' "
            f"AND ts < TIMESTAMP '{end_excl}') e")


def covisit_edges_sql(start: str, end_excl: str) -> str:
    """Co-click item pairs over the range, as (src, dst, weight)."""
    body = _sub(ORACLE["item_covisitation"], [_events_between(start, end_excl)])
    return f"SELECT item_a AS src, item_b AS dst, n_co AS weight FROM ({body})"


def page_edges(con, start: str, end_excl: str) -> pd.DataFrame:
    """Adjacent same-session event pairs with counts, over the range."""
    sql = f"""
    WITH {_oracle.SESSIONIZE_CTES},
    splits AS (
      SELECT event_type AS dst,
             lag(event_type) OVER (PARTITION BY session_id ORDER BY ts, event_id) AS src
      FROM actions
    )
    SELECT src, dst, count(*) AS weight FROM splits WHERE src IS NOT NULL GROUP BY 1, 2
    """
    return con.execute(_sub(sql, [_events_between(start, end_excl)])).fetchdf()


def bfs_expected(edges: pd.DataFrame, source: str, max_depth: int = 6) -> pd.DataFrame:
    adj: dict[str, set[str]] = defaultdict(set)
    for s, t in zip(edges["src"], edges["dst"]):
        adj[s].add(t)
    depth = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        if depth[u] >= max_depth:
            continue
        for v in adj[u]:
            if v not in depth:
                depth[v] = depth[u] + 1
                q.append(v)
    return pd.DataFrame({"node": list(depth), "depth": list(depth.values())})


def lpa_expected(edges: pd.DataFrame, rounds: int = 3) -> pd.DataFrame:
    """Synchronous weighted label propagation, ties to the smallest label."""
    both = list(zip(edges["src"], edges["dst"], edges["weight"])) + list(
        zip(edges["dst"], edges["src"], edges["weight"]))
    label = {u: u for u, _v, _w in both}
    for _ in range(rounds):
        score: dict = defaultdict(lambda: defaultdict(int))
        for u, v, w in both:
            score[u][label[v]] += int(w)
        label = {u: min(s.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                 for u, s in score.items()}
    return pd.DataFrame({"node": list(label), "community": list(label.values())})


def check_pagerank(got: pd.DataFrame, n_nodes: int) -> list[str]:
    ranks = got["rank"].to_numpy(dtype="float64")
    problems = []
    if len(got) != n_nodes:
        problems.append(f"{len(got)} ranked nodes, graph has {n_nodes}")
    if not all(math.isfinite(r) and r > 0 for r in ranks):
        problems.append("non-positive or non-finite rank")
    return problems


def check_loop(con, data_dir: str, spec, got: pd.DataFrame) -> list[str]:
    """CC against the DuckDB closure; BFS and LPA against plain-Python
    loops over DuckDB-derived edges; pagerank for shape and sanity."""
    if spec.kind == "cc":
        return compare(got, clusters_oracle(f"{data_dir}/documents.parquet",
                                            f"doc_id % {spec.doc_mod} = {spec.doc_rem}"))
    if spec.kind == "lpa":
        return compare(got, lpa_expected(con.execute(covisit_edges_sql(spec.start, spec.end)).fetchdf()))
    edges = page_edges(con, spec.start, spec.end)
    if spec.kind == "bfs":
        return compare(got, bfs_expected(edges, spec.source))
    return check_pagerank(got, len(set(edges["src"]) | set(edges["dst"])))
