"""Seeded inputs for every workload.

The tables are the sf0.1 fixture set (`data/sf0.1/`, copies of the
tables TESTDATA.md describes): 100,000 events over 30 days, 15,000
customers, 20,000 parts and 5,000 documents.  They are the same for
every seed.  The seed chooses only what the engine is asked to do with
them: the `task_param` JSON strings, which days of events are replayed
as micro-batch files, which documents arrive on which day, the query
terms, and the loop subsets.  The *shape* of a run is fixed (the same
date-range widths, batch counts and documents per day for every seed),
so figures from different seeds are comparable.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SF = "0.1"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", f"sf{SF}")
TABLES = ("region", "nation", "customer", "part", "events", "documents")

EPOCH = dt.date(2024, 1, 1)
N_DAYS = 30
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# task widths cycle in this order in every run, so each run sees the
# same mix of small and large date ranges whatever the seed; the
# untimed warm-up runs one-day tasks
TASK_WIDTHS = (7, 14, 21, 10)
WARMUP_WIDTHS = (1,)
MODULE_KINDS = ("session", "page", "area", "ad")

# ad stream: each round replays ROUND_FILES consecutive days of events,
# one file (one micro-batch) per day, in event-time order
ROUND_FILES = 4
BLACKLIST_THRESHOLD = 3

# corpus: documents arriving per day
DOCS_PER_DAY = 60
DAYS_PER_CYCLE = 2
QUERIES_PER_DAY = 4
QUERY_TERMS = 3

# loops: event-window widths, CC doc subset = doc_id % LOOP_DOC_MOD
LOOP_WIDTHS = (5, 9, 7)
LOOP_DOC_MOD = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so adding draws to one
    family never shifts another's inputs."""
    return np.random.default_rng([seed, *stream.encode()])


def day_iso(offset: int) -> str:
    return (EPOCH + dt.timedelta(days=int(offset))).isoformat()


def table_rows() -> dict[str, int]:
    return {t: pq.read_metadata(os.path.join(DATA_DIR, f"{t}.parquet")).num_rows
            for t in TABLES}


@lru_cache(maxsize=1)
def events() -> pd.DataFrame:
    """The events table, in event-time order."""
    df = pd.read_parquet(os.path.join(DATA_DIR, "events.parquet"))
    return df.sort_values(["ts", "event_id"], kind="stable").reset_index(drop=True)


@lru_cache(maxsize=1)
def _day_counts() -> np.ndarray:
    day = (events()["ts"].to_numpy().astype("datetime64[D]")
           - np.datetime64(EPOCH.isoformat(), "D")).astype(int)
    return np.bincount(day, minlength=N_DAYS)


def events_between(start: str, end_excl: str) -> int:
    """Event rows with start <= ts < end_excl (whole days)."""
    lo = (dt.date.fromisoformat(start) - EPOCH).days
    hi = (dt.date.fromisoformat(end_excl) - EPOCH).days
    return int(_day_counts()[lo:hi].sum())


@lru_cache(maxsize=1)
def documents() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(DATA_DIR, "documents.parquet"),
                           columns=["doc_id", "text"])


# ---- module_tasks -----------------------------------------------------------


@dataclass(frozen=True)
class Task:
    kind: str          # one of MODULE_KINDS
    task_json: str     # the reference task_param wire format
    start: str
    end: str           # inclusive


def module_tasks(seed: int, n: int, warmup: bool = False) -> list[Task]:
    """`n` task_param JSONs.  Every group of four holds each module
    once, always in MODULE_KINDS order; widths cycle through
    TASK_WIDTHS (WARMUP_WIDTHS, from an independent draw, for the
    untimed warm-up)."""
    rng = _rng(seed, "warmup" if warmup else "tasks")
    widths = WARMUP_WIDTHS if warmup else TASK_WIDTHS
    out: list[Task] = []
    while len(out) < n:
        for kind in MODULE_KINDS:
            width = widths[(len(out) // 4) % len(widths)]
            first = int(rng.integers(0, N_DAYS - width + 1))
            start, end = day_iso(first), day_iso(first + width - 1)
            p: dict[str, list[str]] = {"startDate": [start], "endDate": [end]}
            if kind == "session":
                lo = int(rng.integers(0, 30))
                p["startAge"] = [str(lo)]
                p["endAge"] = [str(lo + int(rng.integers(15, 30)))]
                p["sex"] = [str(rng.choice(("male", "female")))]
                kws = sorted(rng.choice(EVENT_TYPES[:4], 2, replace=False))
                p["keywords"] = [",".join(kws)]
            elif kind == "page":
                p["targetPageFlow"] = [",".join(rng.permutation(EVENT_TYPES[:4]))]
            out.append(Task(str(kind), json.dumps(p), start, end))
    return out[:n]


# ---- ad_click_stream --------------------------------------------------------


def write_ad_round(seed: int, round_no: int, src_dir: str) -> list[pd.DataFrame]:
    """One replay round: ROUND_FILES consecutive days of events from a
    seeded first day, one micro-batch file per day, in event-time
    order, `ts` stored as microsecond timestamps.  Returns the batches."""
    rng = _rng(seed, f"ad{round_no}")
    os.makedirs(src_dir, exist_ok=True)
    first = int(rng.integers(0, N_DAYS - ROUND_FILES + 1))
    ev = events()
    day = ev["ts"].dt.floor("D")
    batches = []
    for i in range(ROUND_FILES):
        df = ev[day == pd.Timestamp(day_iso(first + i))].reset_index(drop=True)
        df.to_parquet(os.path.join(src_dir, f"batch-{i:04d}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=False)
        batches.append(df)
    return batches


# ---- corpus_ingest ----------------------------------------------------------


@dataclass(frozen=True)
class CorpusPlan:
    days: list[tuple[str, pd.DataFrame]]   # (day, doc_id/text frame)
    queries: list[tuple[str, ...]]          # QUERIES_PER_DAY per day
    replay_day: int                         # the day re-submitted


@lru_cache(maxsize=1)
def _vocabulary() -> tuple[str, ...]:
    return tuple(sorted({t for text in documents()["text"] for t in text.split()}))


def corpus_plan(seed: int) -> CorpusPlan:
    """A seeded order of the documents, cut into days of DOCS_PER_DAY,
    and QUERY_TERMS seeded vocabulary terms per read."""
    rng = _rng(seed, "corpus")
    docs = documents()
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    n_days = len(docs) // DOCS_PER_DAY
    days = [(day_iso(d), docs.iloc[d * DOCS_PER_DAY:(d + 1) * DOCS_PER_DAY]
             .reset_index(drop=True)) for d in range(n_days)]
    vocab = _vocabulary()
    queries = [tuple(vocab[i] for i in rng.choice(len(vocab), QUERY_TERMS, replace=False))
               for _ in range(n_days * QUERIES_PER_DAY)]
    return CorpusPlan(days, queries, int(rng.integers(0, DAYS_PER_CYCLE)))


# ---- iterative_loops --------------------------------------------------------


@dataclass(frozen=True)
class LoopOp:
    kind: str               # pagerank | bfs | lpa | cc
    start: str = ""         # event date range (graph loops)
    end: str = ""           # exclusive
    source: str = ""        # bfs source page
    doc_mod: int = 0        # cc: doc_id % doc_mod == doc_rem
    doc_rem: int = 0


LOOP_KINDS = ("pagerank", "bfs", "lpa", "cc")


def loop_ops(seed: int, n: int) -> list[LoopOp]:
    """Every group of four runs each loop once, in LOOP_KINDS order."""
    rng = _rng(seed, "loops")
    out: list[LoopOp] = []
    while len(out) < n:
        for kind in LOOP_KINDS:
            width = LOOP_WIDTHS[(len(out) // 4) % len(LOOP_WIDTHS)]
            first = int(rng.integers(0, N_DAYS - width + 1))
            out.append(LoopOp(
                kind=str(kind),
                start=day_iso(first),
                end=day_iso(first + width),
                source=str(rng.choice(EVENT_TYPES)),
                doc_mod=LOOP_DOC_MOD,
                doc_rem=int(rng.integers(0, LOOP_DOC_MOD)),
            ))
    return out[:n]
