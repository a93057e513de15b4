"""Empty-input robustness: every core operator must return an empty
(or well-defined) result on empty frames — at 100 TB empty partitions
and empty post-filter frames are routine, and a crash there kills the
whole job."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators import session_analysis as sa
from analysisofuserbehavior_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from analysisofuserbehavior_spark.operators.page_flow import page_convert_rate
from analysisofuserbehavior_spark.operators.sessionize import sessionize
from analysisofuserbehavior_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_bruteforce_topk_np,
    embedding_neardup_pairs,
)

EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_sessionize_and_rollup_empty(spark):
    ev = sessionize(_empty(spark, EVENTS))
    assert ev.count() == 0
    stats = sa.session_stats(ev.withColumn("day", F.lit("x")).withColumn("category_id", F.lit(1)))
    assert stats.count() == 0
    # the 16-bucket ratio row over zero sessions: one row, null ratios
    row = sa.session_aggr_stat(stats).collect()[0]
    assert row["session_count"] == 0


def test_funnel_empty(spark):
    out = page_convert_rate(spark, _empty(spark, EVENTS), ("a", "b", "c")).collect()
    assert [r["pv"] for r in out] == [0, 0]
    assert all(r["convert_rate"] is None for r in out)  # 0/0 guarded to NULL


def test_dedup_empty(spark):
    docs = _empty(spark, "doc_id long, text string")
    assert exact_dedup(docs).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert simhash_pairs(docs).count() == 0


def test_similarity_empty(spark):
    emb = _empty(spark, "vec_id long, embedding array<float>")
    assert ann_bruteforce_topk(emb).count() == 0
    assert embedding_neardup_pairs(emb).count() == 0
    # empty query block: a JVM-only seed with the non-empty result's schema
    np_out = ann_bruteforce_topk_np(emb)
    assert np_out.count() == 0
    assert np_out.columns == ["query_id", "rank", "neighbor_id", "sim"]
    assert "ExistingRDD" not in np_out._jdf.queryExecution().executedPlan().toString()


def test_random_extract_empty(spark):
    stats = _empty(
        spark,
        "session_id string, user_id long, start_time string, visit_length long, "
        "step_length long, event_types string, click_category_ids string, "
        "total_value double, day string, start_hour long",
    )
    assert sa.session_random_extract(stats).count() == 0


def test_curation_ops_empty(spark):
    from analysisofuserbehavior_spark.operators.curation import (
        boilerplate_ngrams,
        lang_mixture_weights,
        pii_redact,
        train_eval_split,
    )

    docs = _empty(spark, "doc_id long, text string, lang string")
    assert train_eval_split(docs).count() == 0
    assert lang_mixture_weights(docs).count() == 0
    assert boilerplate_ngrams(docs, n=2, min_df=1).count() == 0
    assert pii_redact(docs).count() == 0


def test_scd2_empty_sides(spark):
    from analysisofuserbehavior_spark.operators.scd import scd2_apply

    dim = "k long, attr string, valid_from string, valid_to string"
    upd = "k long, attr string, eff string"
    cur = spark.createDataFrame([(1, "a", "2024-01-01", None)], dim)
    # empty update batch → dimension unchanged
    out = scd2_apply(cur, _empty(spark, upd), key="k", tracked=("attr",), eff_col="eff")
    assert {tuple(r) for r in out.collect()} == {(1, "a", "2024-01-01", None)}
    # empty dimension → batch inserts everything
    out2 = scd2_apply(
        _empty(spark, dim),
        spark.createDataFrame([(2, "b", "2024-06-01")], upd),
        key="k", tracked=("attr",), eff_col="eff",
    )
    assert {tuple(r) for r in out2.collect()} == {(2, "b", "2024-06-01", None)}


def test_pagerank_empty_edges(spark):
    from analysisofuserbehavior_spark.operators.graph import pagerank

    edges = _empty(spark, "src string, dst string, weight long")
    assert pagerank(edges).count() == 0


def test_round4_text_and_retrieval_ops_empty(spark):
    from analysisofuserbehavior_spark.operators.retrieval import bm25_topk
    from analysisofuserbehavior_spark.operators.text_analysis import (
        unigram_surprisal,
        vocab_growth,
    )

    docs = _empty(spark, "doc_id long, text string, lang string")
    assert bm25_topk(docs).count() == 0  # NULL scores filtered, not crashed
    assert unigram_surprisal(docs).count() == 0
    assert vocab_growth(docs).count() == 0  # NULL max_id -> no thresholds


def test_round5_text_ops_empty(spark):
    from analysisofuserbehavior_spark.operators.text_analysis import (
        bigram_surprisal,
        dup_ngram_coverage,
    )

    docs = _empty(spark, "doc_id long, text string, lang string")
    assert bigram_surprisal(docs).count() == 0
    assert dup_ngram_coverage(docs).count() == 0
    # single-doc corpora: bigram LM degenerates cleanly (0 bits for
    # deterministic transitions), coverage has no heavy shingles
    one = spark.createDataFrame([(1, "a b c", "en")], "doc_id long, text string, lang string")
    assert bigram_surprisal(one).collect()[0]["bits_per_bigram"] == 0.0
    r = dup_ngram_coverage(one).collect()[0]
    assert (r["n_ngrams"], r["dup_ngrams"], r["dup_frac"]) == (1, 0, 0.0)


def test_round6_backoff_surprisal_empty_and_one_doc(spark):
    """Empty corpus -> empty; a single 3-token doc has one singleton
    trigram whose suffix/middle stats are all 1 -> exactly the +2-bit
    backoff constant (no division by zero, no dropped row)."""
    from analysisofuserbehavior_spark.operators.text_analysis import (
        backoff_surprisal,
    )

    docs = _empty(spark, "doc_id long, text string, lang string")
    assert backoff_surprisal(docs).count() == 0
    one = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    r = backoff_surprisal(one).collect()[0]
    assert (r["n_trigrams"], r["bits_per_trigram"]) == (1, 2.0)
    # docs shorter than a trigram vanish rather than crash
    short = spark.createDataFrame(
        [(1, "a b", "en")], "doc_id long, text string, lang string"
    )
    assert backoff_surprisal(short).count() == 0


def test_round4_graph_ops_empty(spark):
    from analysisofuserbehavior_spark.operators.graph import bfs_depths, triangle_count

    edges = _empty(spark, "src long, dst long")
    source = _empty(spark, "node long")
    assert bfs_depths(edges, source).count() == 0
    assert triangle_count(edges).first()["n_triangles"] == 0


def test_round4_cluster_profile_empty(spark):
    from analysisofuserbehavior_spark.operators.similarity import (
        embedding_cluster_profile,
    )

    emb = _empty(spark, "vec_id long, embedding array<float>")
    assert embedding_cluster_profile(emb).count() == 0


def test_grouping_sets_empty_input_divergence_pinned(spark):
    """KNOWN Spark-vs-ANSI divergence, pinned deliberately: over an
    EMPTY input, GROUP BY CUBE/ROLLUP/GROUPING SETS omits even the
    grand-total () grouping-set row in Spark, while DuckDB (per the
    standard's global-aggregate semantics for the empty grouping set)
    returns one all-NULL row with count 0.  Affects the four
    grouping-set queries (events_cube, clicks_rollup_calendar,
    daily_type_rollup, user_type_grouping_sets) ONLY when the
    aggregate's whole input is empty — an empty table, or a filter
    that matches nothing (clicks_rollup_calendar with a clickless
    log).  Any non-empty input emits identical rows in both engines
    (gated green at every SF).  Pinned here so a future Spark
    behavior change is noticed."""
    import duckdb

    ev = _empty(spark, EVENTS)
    got = ev.cube("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    assert got == []  # Spark: no grand-total row on empty input
    con = duckdb.connect()
    ora = con.execute(
        "SELECT event_type, count(*) AS n FROM (SELECT NULL AS event_type WHERE 1=0) "
        "GROUP BY CUBE (event_type)"
    ).fetchall()
    assert ora == [(None, 0)]  # DuckDB: the () grouping set emits one row


def test_round7_operators_degrade_gracefully_on_empty_and_tiny(spark):
    """Edge pins for the round-7 operators: a corpus the quality gate
    fully rejects flows through the COMPOSED pipeline to an empty
    packed frame (no null-span crash in pack_sequences' broadcast
    total); semantic_dedup handles a corpus SMALLER than n_clusters
    (every vector is its own centroid, all kept) and an empty one."""
    from analysisofuserbehavior_spark.operators.corpus_pipeline import (
        corpus_pipeline_e2e,
    )
    from analysisofuserbehavior_spark.operators.similarity import semantic_dedup

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "small doc")], "doc_id long, text string"
    )
    assert corpus_pipeline_e2e(docs).collect() == []

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    got = sorted(map(tuple, semantic_dedup(emb, n_clusters=8).collect()))
    assert got == [(0, 0, 1.0, True), (1, 1, 1.0, True)]

    emb0 = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(emb0).collect() == []


def test_round8_ops_empty(spark):
    """Round-8 operators on empty frames: sweep-line, CDC, shards,
    curriculum, skew profile, LSH tuning, covisitation, engagement —
    empty (or well-defined constant-shape) outputs, no crashes."""
    from analysisofuserbehavior_spark.operators.covisitation import (
        item_covisitation,
    )
    from analysisofuserbehavior_spark.operators.curation import (
        curriculum_stages,
        training_shuffle_shards,
    )
    from analysisofuserbehavior_spark.operators.dedup import lsh_tuning_report
    from analysisofuserbehavior_spark.operators.diagnostics import (
        key_skew_profile,
    )
    from analysisofuserbehavior_spark.operators.engagement import (
        rfm_segments,
        trending_items_decayed,
    )
    from analysisofuserbehavior_spark.operators.scd import cdc_apply
    from analysisofuserbehavior_spark.operators.sweepline import (
        concurrency_by_hour,
        session_intervals,
    )

    acts = sessionize(_empty(spark, EVENTS))
    assert concurrency_by_hour(session_intervals(acts)).count() == 0
    assert (
        cdc_apply(
            _empty(spark, "k long, seq long, op string, v double"),
            key_cols=("k",),
            seq_cols=("seq",),
        ).count()
        == 0
    )
    docs = _empty(spark, "doc_id long, text string, n_chars long")
    assert training_shuffle_shards(docs).count() == 0
    assert curriculum_stages(docs).count() == 0
    # skew profile over zero rows: one row of zero counts with a NULL
    # p99/top1 (no keys to rank) — pinned shape, not a crash
    prof = key_skew_profile(_empty(spark, "k string"), "k", "t.k").collect()
    assert len(prof) == 1
    assert prof[0].n_rows == 0 and prof[0].n_keys == 0
    assert prof[0].p99_rows_per_key is None
    # LSH tuning over an empty corpus: the 4 grid rows survive with
    # null expectations and zero true pairs is NOT reported as 0 —
    # the sums are null (no pairs), recall guard keeps it null-free?
    rows = lsh_tuning_report(docs).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_true in (0, None)
    assert (
        item_covisitation(
            acts.withColumn("product_id", F.lit(None).cast("long"))
        ).count()
        == 0
    )
    assert (
        trending_items_decayed(
            _empty(spark, EVENTS).withColumn(
                "product_id", F.lit(None).cast("long")
            )
        ).count()
        == 0
    )
    assert rfm_segments(_empty(spark, EVENTS)).count() == 0
