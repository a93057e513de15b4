"""Sparse-retrieval operators over the documents corpus.

BM25 scoring for a fixed query-term set, expressed so the per-doc
term frequencies are ROW-LOCAL array expressions (no explode, no
(doc, term) shuffle): for a handful of query terms the tf of each
term is `size(filter(tokens, t -> t = term))` fused into the scan.
Corpus statistics (N, avgdl, per-term df) reduce to ONE 1-row
aggregate that broadcast-joins back — so the whole query is two scans
of `documents`, one 1-row shuffle, and a TakeOrdered.  At 100 TB the
scoring pass is a pure map stage; nothing grows with corpus size
except the scan itself.

Reference parity: the reference has no retrieval operator — this is
part of the training-data-pipeline surface (query-relevance slicing
of a corpus before sampling), built the way Lucene/Elasticsearch
define BM25 (Robertson k1/b defaults, Lucene's idf smoothing).
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import qround
from ..sources import local_frame

DEFAULT_QUERY_TERMS = ("spark", "join", "window", "stream")
DEFAULT_INDEX_BUCKETS = 16

# Engine-defined layouts read with EXPLICIT schemas: a bare
# spark.read.parquet() pays a schema-inference footer read as its own
# 1-task job per call (round-12 profiling: ~0.2 s of driver latency
# each, several per index-lifecycle query).  These schemas are fixed
# by the writers in this module, so inference discovers nothing.
POSTINGS_SCHEMA = "token string, doc_id bigint, dl bigint, tf bigint, bucket int"
INDEX_STATS_SCHEMA = "n_docs bigint, sum_dl bigint, n_buckets int"


def read_index_postings(spark, path: str) -> DataFrame:
    return spark.read.schema(POSTINGS_SCHEMA).parquet(path)


def read_index_stats(spark, path: str) -> DataFrame:
    """The `_stats` manifest of a `write_inverted_index` layout."""
    return spark.read.schema(INDEX_STATS_SCHEMA).parquet(path + "/_stats")


def _tokens() -> Column:
    return F.split(F.col("text"), " ")


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = 20,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 score for `query_terms`.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1-b+b·|d|/avgdl))
    idf(t)   = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))   (Lucene smoothing)

    Scale design: per-term tf is a row-local `size(filter(...))` —
    the token array is never exploded, so no (doc, term) pair frame
    exists.  df/N/avgdl collapse into one single-row aggregate
    (map-side combined conditional counts) broadcast back onto the
    scoring scan; the final top-k is TakeOrderedAndProject, never a
    global sort.  Ordering uses the QUANTIZED score (6 dp HALF_UP,
    mirrored in the oracle) + doc_id so float ULPs cannot flip ranks
    across engines.

    Defaults k1=1.5, b=0.75 (mid Robertson range) are chosen so the
    derived constants k1+1=2.5 and 1-b=0.25 are EXACT binary doubles —
    the oracle's literals are bit-identical without mirroring Python's
    float-add rounding."""
    toks = _tokens()
    def _tf(term: str) -> Column:
        # NB: the lambda must be unary — F.filter passes the element
        # index to any 2-arg function, which would shadow a bound
        # default argument
        lit = F.lit(term)
        return F.size(F.filter(toks, lambda t: t == lit)).cast("double")

    tf_cols = [_tf(term).alias(f"tf_{i}") for i, term in enumerate(query_terms)]
    base = docs.select(
        "doc_id", F.size(toks).cast("double").alias("dl"), *tf_cols
    )
    # avgdl from EXACT integers — sum(dl) as BIGINT then ONE double
    # division: a double avg() is an order-dependent partial sum, and
    # avgdl feeds every score quantized at 6 dp, so a cross-partition
    # ULP could flip a boundary.  df counts likewise exact BIGINTs.
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )

    def part(i: int) -> Column:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / denom

    score = part(0)
    for i in range(1, len(query_terms)):
        score = score + part(i)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", qround(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


# ---- materialized inverted index -------------------------------------------
#
# `bm25_topk` scans the whole corpus per query — right for one-off
# slicing, wrong for a served retrieval workload.  The classic scale
# shape is a SHARDED INVERTED INDEX: posting lists (token, doc_id, tf)
# partitioned by a hash bucket of the token, so a query lists and
# reads only the shards its terms live in (Lucene/ES route queries to
# term shards the same way).  At 100 TB the index build is one
# explode+groupBy pass, and each query's IO is
# O(Σ_t |postings(t)|) — independent of corpus size.


def _token_bucket(col: Column, n_buckets: int) -> Column:
    # crc32 — identical to zlib.crc32 driver-side, so the planner can
    # enumerate a query's buckets WITHOUT a Spark job or collect()
    return F.pmod(F.crc32(col.cast("binary")), F.lit(n_buckets)).cast("int")


def write_inverted_index(
    docs: DataFrame, path: str, n_buckets: int = DEFAULT_INDEX_BUCKETS
) -> None:
    """Materialize the posting-list layout for `bm25_topk_indexed`.

    Postings (token, doc_id, tf, dl) land under `bucket=<b>/`
    directories keyed by crc32(token) % n_buckets; corpus-level stats
    (exact BIGINT n_docs / sum_dl — the same integers `bm25_topk`
    aggregates) go to the `_`-hidden `_stats` subdir, invisible to the
    posting scan.  dl is denormalized onto every posting so scoring
    never rejoins the corpus.

    Scale: ONE explode + map-side-combined groupBy over the corpus;
    `repartition("bucket")` makes each shard write from its own
    reducer set.  n_buckets is a layout knob — at 100 TB you'd raise
    it so each bucket directory stays executor-sized (it only has to
    divide the term space, not the corpus).

    The corpus stats (exact BIGINT n_docs / sum_dl) ride the postings
    write as `observe()` metrics (exactly-once, deterministic — the
    session_analysis accumulator pattern) instead of a second
    aggregate over the corpus: before round 12 the `_stats` write
    re-derived the tokenize pass, so every index build paid TWO full
    corpus scans (guide §1.2 — re-derived branches recompute).  The
    `_stats` row itself is then a literal 1-row frame."""
    _write_postings_and_stats(docs, path, n_buckets, mode="overwrite")


def append_inverted_index(
    docs_new: DataFrame, path: str, n_buckets: int = DEFAULT_INDEX_BUCKETS
) -> None:
    """Incremental admission: add a NEW batch of documents to an
    existing `write_inverted_index` layout without rebuilding it —
    the batch's postings append under their bucket directories, and
    `_stats` gains one row (the stats sidecar is a MANIFEST of exact
    per-batch BIGINTs; the query aggregates it, so k ingests cost the
    same one-row sum as one).  Work is O(batch), never O(index) — the
    same admission contract as operators/curation.py's
    incremental_admit.

    Contract: batches must PARTITION the corpus by doc_id.  A doc
    re-ingested in a second batch would double its (token, doc)
    posting rows — inflating its tf via the pivot sum AND the term df
    (df counts posting rows) — so re-ingestion means rebuild (or
    exact-dedup upstream).  `bm25_topk_indexed` over base+appended
    batches is hash-identical to a full rebuild (gated:
    bm25_topk_incremental).

    Batch stats ride the postings write as `observe()` metrics (see
    write_inverted_index) — one pass over the batch, not two."""
    _write_postings_and_stats(docs_new, path, n_buckets, mode="append")


def _write_postings_and_stats(
    docs: DataFrame, path: str, n_buckets: int, mode: str
) -> None:
    """Shared body of write/append_inverted_index: one tokenize +
    explode + map-side-combined groupBy pass whose write action also
    carries the corpus-stats observation; the `_stats` manifest row
    (schema-identical to the pre-round-12 `base.agg(...)` row:
    BIGINT n_docs / sum_dl, INT n_buckets, sum over zero rows = NULL)
    is then written as a literal 1-row, 1-slice frame."""
    from pyspark.sql import Observation

    spark = docs.sparkSession
    toks = _tokens()
    obs = Observation()
    base = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("dl"), toks.alias("toks")
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    postings = (
        base.select("doc_id", "dl", F.explode("toks").alias("token"))
        .groupBy("token", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", _token_bucket(F.col("token"), n_buckets))
    )
    postings.repartition("bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(path)
    try:
        vals = obs.get
        stats = spark.range(1).select(
            F.lit(vals["n_docs"]).cast("bigint").alias("n_docs"),
            F.lit(vals["sum_dl"]).cast("bigint").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
        )
    except Exception:
        # empty batch: AQE's empty-relation propagation elides the
        # CollectMetrics node, so no observation row materializes.
        # Fall back to the pre-round-12 direct aggregate — over zero
        # rows it is a trivial job and yields the identical
        # (0, NULL, n_buckets) manifest row.
        stats = docs.select(F.size(_tokens()).cast("bigint").alias("dl")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
        )
    stats.write.mode(mode).parquet(path + "/_stats")


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = 20,
    k1: float = 1.5,
    b: float = 0.75,
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> DataFrame:
    """`bm25_topk` over a `write_inverted_index` layout, reading ONLY
    the term shards: the query's buckets are computed DRIVER-side with
    zlib.crc32 (bit-identical to the layout's F.crc32, no job, no
    collect) and pushed as a partition IN-literal, so unqueried shard
    directories are never even listed (PartitionFilters — plan-pinned
    in tests/test_plans.py).

    Identical results to `bm25_topk`: docs absent from every pruned
    posting list have tf=0 for all terms, hence bm25 = 0, hence were
    excluded by its `bm25 > 0` filter anyway; df/n_docs/avgdl are
    full-corpus exact integers (df per term counts ALL of that term's
    postings — term shards are complete by construction).  Every
    arithmetic expression keeps `bm25_topk`'s shape, so the 6-dp
    quantized scores hash-match its oracle.

    Reads begin with `_recover_index`: one driver-side existence
    check normally, and the recovery path when a compaction crashed
    between its live→_old and staged→live renames (round-11 ADVICE —
    readers must not 404 in that window)."""
    _recover_index(spark, index_path)
    buckets = sorted(
        {zlib.crc32(t.encode("utf-8")) % n_buckets for t in query_terms}
    )
    postings = (
        read_index_postings(spark, index_path)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("token").isin(list(query_terms)))
    )
    # _stats is a per-ingest-batch manifest: exact BIGINT totals sum
    # across batches, THEN the one double division — identical
    # arithmetic whether the index was built in 1 write or k appends
    stats = (
        read_index_stats(spark, index_path)
        .agg(
            F.sum("n_docs").alias("t_docs"),
            F.sum("sum_dl").alias("t_dl"),
        )
        .select(
            F.col("t_docs").cast("double").alias("n_docs"),
            (
                F.col("t_dl").cast("double") / F.col("t_docs").cast("double")
            ).alias("avgdl"),
        )
    )
    # per-term df: every posting row of term t is one distinct doc
    dfs = postings.groupBy().agg(
        *[
            F.coalesce(
                F.sum((F.col("token") == t).cast("bigint")), F.lit(0)
            )
            .cast("double")
            .alias(f"df_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    # pivot the ≤|terms| posting rows per doc into tf_i columns
    scored_base = postings.groupBy("doc_id", "dl").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("token") == t, F.col("tf"))), F.lit(0)
            )
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    scored_base = scored_base.select(
        "doc_id", F.col("dl").cast("double").alias("dl"),
        *[f"tf_{i}" for i in range(len(query_terms))],
    )

    def part(i: int) -> Column:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / denom

    score = part(0)
    for i in range(1, len(query_terms)):
        score = score + part(i)
    return (
        scored_base.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
        .select("doc_id", qround(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    depth: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009 — the fusion rule behind most production RAG "hybrid
    search"): for each pivot document (doc_id < n_queries), fuse a
    LEXICAL ranking (distinct-token Jaccard against the corpus) with
    a SEMANTIC ranking (embedding cosine) by

        rrf(d) = Σ_r 1/(rrf_k + rank_r(d))   over rankings that
                                             retrieved d in top-`depth`

    The two candidate lists are full-outer joined, so a document
    retrieved by only one modality still scores — exactly the case
    hybrid search exists for, and the testdata exercises it for real
    (embeddings cover a PREFIX of the corpus at sf0.1, so lexical
    hits past it carry no semantic rank).

    Determinism: ranks are row_numbers ordered by the QUANTIZED
    similarity + id tie-break (`_sim_order` discipline); the fusion
    sum is a FIXED two-term float expression over integer ranks —
    no cross-row float sum anywhere.

    Scale design: both query frames are tiny (n_queries rows) and
    BROADCAST — each candidate pass is a map-side join over one scan
    (lexical: row-local array_intersect on distinct tokens; semantic:
    the shared dot/norm fold).  Per-query rankings are
    Window.partitionBy(query) row_numbers whose `rank <= depth`
    filter Spark rewrites to WindowGroupLimit (per-partition top-k
    BEFORE the shuffle — no unbounded single-partition sort); the
    final per-query top-k is the same shape on the <=2·depth-row
    fused frame."""
    from pyspark.sql import Window

    from .similarity import _sim_order, _with_vec, _paired_sim

    toks = F.array_distinct(_tokens())
    lex_corpus = docs.select("doc_id", toks.alias("dt"))
    lex_queries = (
        docs.where(F.col("doc_id") < n_queries)
        .select(F.col("doc_id").alias("query_id"), toks.alias("qt"))
    )
    inter = F.size(F.array_intersect(F.col("dt"), F.col("qt"))).cast("double")
    union = (
        F.size(F.col("dt")) + F.size(F.col("qt"))
    ).cast("double") - inter
    lex_sims = (
        lex_corpus.join(
            F.broadcast(lex_queries), F.col("doc_id") != F.col("query_id")
        )
        .select("query_id", "doc_id", (inter / union).alias("sim"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "doc_id"))
    lex_ranked = (
        lex_sims.withColumn("lex_rank", F.row_number().over(w_lex))
        .where(F.col("lex_rank") <= depth)
        .select("query_id", "doc_id", "lex_rank")
    )
    sem_queries = _with_vec(
        embeddings.where(F.col("vec_id") < n_queries), "query_id", "q_vec", "q_norm"
    )
    sem_corpus = _with_vec(embeddings, "doc_id", "n_vec", "n_norm")
    sem_sims = sem_corpus.join(
        F.broadcast(sem_queries), F.col("doc_id") != F.col("query_id")
    ).withColumn("sim", _paired_sim("q_vec", "q_norm", "n_vec", "n_norm"))
    w_sem = Window.partitionBy("query_id").orderBy(*_sim_order("sim", "doc_id"))
    sem_ranked = (
        sem_sims.withColumn("sem_rank", F.row_number().over(w_sem))
        .where(F.col("sem_rank") <= depth)
        .select("query_id", "doc_id", "sem_rank")
    )
    fused = lex_ranked.join(sem_ranked, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("lex_rank").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("sem_rank").cast("double")),
        F.lit(0.0),
    )
    scored = fused.select(
        "query_id",
        "doc_id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        qround(rrf, 9).alias("rrf_score"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_f))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_score",
        )
    )


def bm25_score_dynamic(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = 20,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for a DYNAMIC term frame (`qterms`: one `token`
    column) — the shape query expansion needs, where the term set is
    data-derived and unknown at plan-author time, so `bm25_topk`'s
    row-local literal-tf trick can't apply.

    Postings explode restricted EARLY by a broadcast semi-join on the
    query terms (the (doc, term) frame that exists is query-term-
    sized, never corpus-vocabulary-sized); corpus stats stay exact
    BIGINTs; the per-doc score is an ORDER-PINNED fold over the
    matched terms sorted by token (collect_list order is
    nondeterministic; both engines fold alphabetically), then 6-dp
    quantized, doc_id tie-break — the bm25 family's parity contract."""
    toks = _tokens()
    base = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("dl"), toks.alias("toks")
    )
    corpus_stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    matched = (
        base.select("doc_id", "dl", F.explode("toks").alias("token"))
        .join(F.broadcast(qterms.select("token").distinct()), "token")
        .groupBy("token", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_per_term = matched.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored_terms = (
        matched.join(F.broadcast(df_per_term), "token")
        .crossJoin(F.broadcast(corpus_stats))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                    )
                )
            ).alias("part"),
        )
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("token", "part"))),
        F.lit(0.0),
        lambda acc, s: acc + s["part"],
    )
    return (
        scored_terms.groupBy("doc_id")
        .agg(qround(folded, 6).alias("bm25"))
        .where(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_prf_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    n_feedback: int = 5,
    n_expansion: int = 2,
    k: int = 20,
) -> DataFrame:
    """Two-round retrieval with PSEUDO-RELEVANCE FEEDBACK (Rocchio/
    RM-style): round 1 scores the seed terms (`bm25_topk`), the top
    `n_feedback` documents donate expansion terms (highest total tf
    among their tokens, excluding the seed terms and stopwords;
    count-desc, token-asc tie-break — fully deterministic), and round
    2 re-scores the corpus with seed ∪ expansion via the dynamic
    scorer.

    Scale shape: round 1 is bm25_topk (two scans + a 1-row
    broadcast); the feedback set is n_feedback rows, so expansion
    mining is a semi-join-pruned explode of ≤n_feedback documents;
    round 2 is bm25_score_dynamic (query-term-sized posting frame).
    Nothing new grows with the corpus."""
    from .text_analysis import STOPWORDS

    fb_ids = bm25_topk(docs, query_terms, k=n_feedback).select("doc_id")
    toks = _tokens()
    excluded = set(query_terms) | set(STOPWORDS)
    expansion = (
        docs.join(F.broadcast(fb_ids), "doc_id", "left_semi")
        .select(F.explode(toks).alias("token"))
        .where(~F.col("token").isin(*sorted(excluded)) & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(n_expansion)
        .select("token")
    )
    spark = docs.sparkSession
    seed = local_frame(spark, [(t,) for t in query_terms], "token string")
    return bm25_score_dynamic(docs, seed.unionByName(expansion), k=k)


def compact_inverted_index(spark, path: str, n_buckets: int = DEFAULT_INDEX_BUCKETS) -> None:
    """MAINTENANCE compaction for a `write_inverted_index` layout that
    has taken appends: every `append_inverted_index` adds file(s) per
    bucket directory and a row to the `_stats` manifest, so K ingests
    leave K× the file count (the small-files problem) and a K-row
    manifest.  Compaction rewrites each bucket as one file and the
    manifest as one summed row — query results are IDENTICAL (postings
    are a bag; the stats the scorer aggregates are already sums).

    Crash safety (rename-rename-delete, round-11 ADVICE): the new
    layout stages under `<path>_compact`; the swap then renames the
    live index aside to `<path>_old`, renames the staged layout to
    live, and deletes `_old` last.  Every crash window leaves a
    complete layout on disk under SOME name — a crash before the
    first rename leaves live untouched; a crash between the renames
    leaves both the complete staged copy and `_old`; a crash before
    the final delete leaves live plus a stale `_old`.
    `_recover_index` (called here and by `bm25_topk_indexed`)
    arbitrates: live present wins, else the staged copy (newer,
    complete by construction — the swap only starts after staging
    finishes), else `_old`.

    Scale shape: one shuffle-free read per bucket directory coalesced
    to its writer (repartition on the partition key), manifest sum is
    a 1-row aggregate.  At 100 TB this is the nightly OPTIMIZE job —
    bounded by index size, not corpus size."""
    from ..sources.upsert import _fs_path

    _recover_index(spark, path)
    staged = path + "_compact"
    postings = read_index_postings(spark, path)
    postings.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(staged)
    stats = read_index_stats(spark, path)
    # n_buckets kept INT — the exact type write/append_inverted_index
    # put in the manifest — so every _stats file in a layout's life
    # shares one schema and readers can declare it (INDEX_STATS_SCHEMA)
    stats.groupBy().agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        F.max("n_buckets").cast("int").alias("n_buckets"),
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/_stats")
    fs, live = _fs_path(spark, path)
    _, new = _fs_path(spark, staged)
    _, old = _fs_path(spark, path + "_old")
    fs.delete(old, True)  # stale backup from an earlier compaction
    if not fs.rename(live, old):
        raise RuntimeError(f"index compact retire failed: {path} -> {path}_old")
    if not fs.rename(new, live):
        raise RuntimeError(f"index compact promote failed: {staged} -> {path}")
    fs.delete(old, True)
    # re-base the ingest ledger (corpus_pipeline.ingest_corpus_day) if this
    # index is under its discipline: compaction just collapsed the _stats
    # manifest to one summed row, so the committed-count baseline must follow
    # or the next ingest's crash-detection guard would false-positive
    # (round-12 ADVICE).  The `<path>_ledger` convention is the pipeline's.
    _, ledger_root = _fs_path(spark, path + "_ledger")
    if fs.exists(ledger_root):
        from .corpus_pipeline import _rebase_ledger

        n_stats = read_index_stats(spark, path).count()
        _rebase_ledger(spark, fs, path + "_ledger", n_stats)


def _recover_index(spark, path: str) -> None:
    """Arbitrate `compact_inverted_index`'s crash windows so index
    readers always find a live layout.  No-op (one driver-side
    existence check) when the live path is present.  When it is
    absent: the staged `<path>_compact` copy is preferred — the swap
    sequence only begins after staging is fully written, so a missing
    live path implies the staged copy is complete and newest; the
    retired `<path>_old` is the fallback (possible only if an
    operator deleted the staged copy by hand)."""
    from ..sources.upsert import _fs_path

    fs, live = _fs_path(spark, path)
    if fs.exists(live):
        return
    _, staged = _fs_path(spark, path + "_compact")
    _, old = _fs_path(spark, path + "_old")
    if fs.exists(staged):
        if not fs.rename(staged, live):
            raise RuntimeError(f"index recover failed: {path}_compact -> {path}")
        fs.delete(old, True)
    elif fs.exists(old):
        if not fs.rename(old, live):
            raise RuntimeError(f"index recover failed: {path}_old -> {path}")


def retrieval_ndcg_report(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY_TERMS,
    k: int = 20,
) -> DataFrame:
    """Retrieval-quality evaluation of the BM25 ranking: NDCG@k
    against the deterministic binary judgment "a document is relevant
    iff it contains EVERY query term" — the conjunctive-containment
    oracle that needs no human labels, so the metric is exactly
    replayable.  One row: relevant counts (corpus and in the top-k),
    DCG@k, ideal DCG (all-relevant prefix truncated at k), and their
    ratio — the eval harness a retrieval change (compaction, PRF,
    hybrid fusion) is judged by before shipping.

    Float discipline: DCG is an ORDER-PINNED fold over rank (rel_i /
    log2(i+1) summed ascending), IDCG folds an integer sequence the
    same way, division happens once, everything quantized at 6 dp —
    the surprisal-family contract.

    Scale shape: bm25_topk does the corpus work; relevance is one
    row-local containment scan; every frame after that is ≤k rows
    (the rank window is SinglePartition over the top-k only —
    whitelisted with that bound)."""
    from pyspark.sql import Window

    from ..functions import qround

    topk = bm25_topk(docs, query_terms, k=k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ranked = topk.withColumn("rk", F.row_number().over(w))
    toks = _tokens()
    rel_pred = None
    for t in query_terms:
        cond = F.array_contains(toks, t)
        rel_pred = cond if rel_pred is None else (rel_pred & cond)
    rel_docs = docs.where(rel_pred).select("doc_id")
    n_rel = rel_docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant_corpus"))
    tr = ranked.join(
        rel_docs.withColumn("_rel", F.lit(1)), "doc_id", "left"
    ).select("rk", F.coalesce(F.col("_rel"), F.lit(0)).alias("rel"))
    dcg_fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("rk", "rel"))),
        F.lit(0.0),
        lambda acc, s: acc
        + s["rel"].cast("double") / F.log2((s["rk"] + 1).cast("double")),
    )
    agg = tr.groupBy().agg(
        F.coalesce(dcg_fold, F.lit(0.0)).alias("_dcg"),
        F.coalesce(F.sum("rel"), F.lit(0)).cast("bigint").alias("n_relevant_topk"),
    )
    idcg_fold = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant_corpus"), F.lit(k)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2((i + 1).cast("double")),
    )
    out = agg.crossJoin(F.broadcast(n_rel)).select(
        "n_relevant_corpus",
        "n_relevant_topk",
        qround(F.col("_dcg"), 6).alias("dcg"),
        F.when(F.col("n_relevant_corpus") > 0, qround(idcg_fold, 6))
        .otherwise(F.lit(0.0))
        .alias("idcg"),
        F.when(
            F.col("n_relevant_corpus") > 0,
            qround(F.col("_dcg") / idcg_fold, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )
    return out
