"""Plan-shape regression tests: correctness tests prove WHAT is
computed; these prove HOW — pushdown reached the scan, dimensions
broadcast, no operator shuffles more than its algebra requires.
A silent plan regression is a 100 TB incident that a row-count test
would never catch."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark import plans
from analysisofuserbehavior_spark.registry import QUERIES
from analysisofuserbehavior_spark.sources import load_table


def test_q1_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = QUERIES["tpch_q1"](spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q1_scan_prunes_unused_columns(spark, sf_dir):
    df = QUERIES["tpch_q1"](spark, sf_dir)
    (cols,) = plans.read_schema_columns(df)
    assert "l_orderkey" not in cols  # 11-col table, 7 used
    assert "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount"} <= cols


def test_dimension_joins_broadcast_not_sort_merge(spark, sf_dir):
    for name in ["area_top3_products", "session_filtered_aggr_stat", "tpch_q5"]:
        df = QUERIES[name](spark, sf_dir)
        assert plans.has_broadcast_join(df), name
        assert not plans.has_sort_merge_join(df), name


def test_sessionize_single_shuffle(spark, sf_dir):
    df = QUERIES["sessionize"](spark, sf_dir)
    assert plans.count_exchanges(df) == 1


def test_page_splits_single_shuffle(spark, sf_dir):
    from analysisofuserbehavior_spark.operators import behavior_model as bm
    from analysisofuserbehavior_spark.operators.page_flow import page_splits

    df = page_splits(bm.actions(load_table(spark, sf_dir, "events")))
    # sessionize's window must be pruned: one exchange for the lag
    assert plans.count_exchanges(df) == 1


def test_top10_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = QUERIES["top10_categories"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_session_rollup_has_partial_aggregation(spark, sf_dir):
    """count/min/max aggregate map-side before the session shuffle."""
    df = QUERIES["session_aggr_stat"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "partial_count" in plan or "partial_min" in plan


def test_event_type_filter_pushdown_in_funnel(spark, sf_dir):
    df = QUERIES["ad_user_click_count"](spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("event_type" in p for p in pushed), pushed


def test_user_active_top10_enriches_after_limit(spark, sf_dir):
    """Module-5 joins the user dim onto the 10 winners, not the fact
    table: plan must show TakeOrderedAndProject BELOW a broadcast
    join (ref joins first — UserActiveDegreeAnalyze.scala:57)."""
    df = QUERIES["top10_active_users"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.has_broadcast_join(df)
    assert not plans.has_sort_merge_join(df)


def test_ngram_jaccard_no_rejoin_after_pair_agg(spark, sf_dir):
    """Set sizes ride through the pair aggregation; only the shingle
    self-join remains (sizes re-join would add 2 more joins)."""
    df = QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1, plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = QUERIES["tpch_q6"](spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    (cols,) = plans.read_schema_columns(df)
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_module5_day_filter_reaches_events_scan(spark, sf_dir):
    """`day` is computed from ts; the operator adds the equivalent
    ntz-literal range on `ts` so the date window prunes parquet row
    groups."""
    df = QUERIES["top10_active_users"](spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    assert "GreaterThanOrEqual(ts," in pushed, pushed


def test_session_rollup_reuses_sessionize_partitioning(spark, sf_dir):
    """Grouping on (user_id, session_seq) — a superset of the window's
    hash key — must not add a second exchange; grouping on the derived
    session_id string would."""
    df = QUERIES["session_stats"](spark, sf_dir)
    assert plans.count_exchanges(df) == 1


def test_approx_profile_within_epsilon(spark, sf_dir):
    """HLL++ distinct estimates must land within the configured 2%
    relative error (generous 3x slack for tiny inputs)."""
    exact = QUERIES["events_profile"](spark, sf_dir).collect()[0]
    approx = QUERIES["events_profile_approx"](spark, sf_dir).collect()[0]
    assert approx["n_rows"] == exact["n_rows"]
    for a, e in [
        (approx["n_users_approx"], exact["n_users"]),
        (approx["n_event_types_approx"], exact["n_event_types"]),
    ]:
        assert abs(a - e) <= max(1, 0.06 * e), (a, e)
    p50, p99 = approx["value_p50_p99"]
    assert 0 < p50 < p99


def test_q4_exists_becomes_semi_join_with_pruned_scans(spark, sf_dir):
    """The EXISTS subquery must plan as ONE hash semi-join on
    orderkey (never a correlated per-row probe), with the quarter
    predicate pushed to the orders scan and the lineitem side pruned
    to its two live columns."""
    df = QUERIES["tpch_q4"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "LeftSemi" in plan
    assert any("o_orderdate" in p for p in plans.pushed_filters(df))
    li_cols = [c for c in plans.read_schema_columns(df) if "l_orderkey" in c]
    assert li_cols and all(len(c) == 2 for c in li_cols)


def test_q7_q14_q19_part_dims_broadcast(spark, sf_dir):
    for name in ["tpch_q7", "tpch_q14", "tpch_q19"]:
        df = QUERIES[name](spark, sf_dir)
        assert plans.has_broadcast_join(df), name


def test_q19_disjunction_pushed_to_part_scan(spark, sf_dir):
    """The OR'd brand/size prefix must reach the part scan as a
    pushed filter — a plan that scans all parts and filters after the
    join re-reads the whole dimension at 100 TB."""
    df = QUERIES["tpch_q19"](spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert any("p_brand" in p and "Or" in p for p in pushed), pushed


def test_q12_conditional_sums_partial_agg(spark, sf_dir):
    """Both CASE sums must partial-aggregate map-side before the
    single groupBy shuffle."""
    df = QUERIES["tpch_q12"](spark, sf_dir)
    assert "partial_sum" in plans.executed_plan(df)


def test_pack_sequences_no_global_order_window(spark, sf_dir):
    """The doc-stream prefix sum must be the two-pass form: the only
    single-partition exchange allowed is the n_buckets-row bucket
    frame — the full documents frame flows through a window
    PARTITIONED by bucket."""
    df = QUERIES["pack_sequences"](spark, sf_dir)
    plan = plans.executed_plan(df)
    doc_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "doc_id" in ln
    ]
    assert doc_windows and all("_bucket" in ln for ln in doc_windows)
    # the only single-partition windows run on the bucket-totals
    # frame (n_buckets rows), never on the documents frame
    tiny_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "doc_id" not in ln
    ]
    assert all("_btokens" in ln for ln in tiny_windows)


def test_vocab_top_tokens_partial_agg_and_take_ordered(spark, sf_dir):
    """The exploded token stream must partial-count map-side (shuffle
    one row per distinct token per partition) and the top-50 must be
    TakeOrderedAndProject, never a global sort."""
    df = QUERIES["vocab_top_tokens"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_q8_dims_broadcast_and_pruned(spark, sf_dir):
    """Q8's five dimension sides (part, both nations, region,
    supplier) must all broadcast — the only shuffles a 100 TB run can
    afford here are the two fact joins — with the p_type and
    o_orderdate predicates pushed to their scans."""
    df = QUERIES["tpch_q8"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    pushed = plans.pushed_filters(df)
    assert any("p_type" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed


def test_q15_max_revenue_without_global_window(spark, sf_dir):
    """The MAX(total_revenue) selection must be the agg+broadcast-back
    form: a global Window over the per-supplier frame would serialize
    onto one partition; the quarter predicate must reach the fact
    scan."""
    df = QUERIES["tpch_q15"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Window" not in plan
    assert plans.has_broadcast_join(df)
    assert any("l_shipdate" in p for p in plans.pushed_filters(df))


def test_q17_correlated_avg_as_broadcast_join(spark, sf_dir):
    """The per-part avg subquery must plan as a grouped agg joined
    back broadcast onto the part-pruned sliver — never a per-row
    correlated probe — with the brand filter pushed to the part
    scan."""
    df = QUERIES["tpch_q17"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plans.has_broadcast_join(df)
    assert "LeftSemi" not in plan  # it's a value join, not EXISTS
    assert any("p_brand" in p for p in plans.pushed_filters(df))


def test_q21_exists_pair_as_semi_plus_anti(spark, sf_dir):
    """EXISTS/NOT-EXISTS must plan as one left-semi plus one
    left-anti hash join on orderkey (with the suppkey non-equi
    conjunct riding the join), with the order-status filter pushed
    down."""
    df = QUERIES["tpch_q21"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert any("o_orderstatus" in p for p in plans.pushed_filters(df))


def test_q22_anti_join_with_pruned_orders_scan(spark, sf_dir):
    """The no-recent-orders probe must be a left-anti join whose
    orders scan is date-pruned AND column-pruned to o_custkey +
    o_orderdate; the scalar avg frame rides a broadcast."""
    df = QUERIES["tpch_q22"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "LeftAnti" in plan
    assert plans.has_broadcast_join(df)
    assert any("o_orderdate" in p for p in plans.pushed_filters(df))
    o_cols = [c for c in plans.read_schema_columns(df) if "o_custkey" in c]
    assert o_cols and all(len(c) <= 2 for c in o_cols)


def test_curation_map_only_ops_have_zero_exchanges(spark, sf_dir):
    """train_eval_split and pii_redact claim map-only execution
    (fused into the scan) — assert NO exchange appears at all."""
    for name in ["train_eval_split", "pii_redact"]:
        df = QUERIES[name](spark, sf_dir)
        assert plans.count_exchanges(df) == 0, name


def test_boilerplate_ngrams_topk_no_global_sort(spark, sf_dir):
    """df>=threshold top-k must run as TakeOrderedAndProject, and the
    scan must prune to (text) — doc_id is consumed by the distinct
    and never leaves the first aggregate."""
    df = QUERIES["boilerplate_ngrams"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)
    (cols,) = plans.read_schema_columns(df)
    assert "lang" not in cols and "source" not in cols


def test_attribution_join_is_equi_keyed_not_nested_loop(spark, sf_dir):
    """The user_id key must carry the shuffle; the time range is a
    residual predicate — never a BroadcastNestedLoopJoin."""
    df = QUERIES["attribution_linear"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_funnel_scan_prunes_to_three_columns(spark, sf_dir):
    df = QUERIES["funnel_sequential"](spark, sf_dir)
    for cols in plans.read_schema_columns(df):
        assert cols <= {"user_id", "ts", "event_type"}, cols


def test_media_dedup_shuffles_digests_not_payloads(spark, sf_dir):
    """Only the 16-byte md5 (plus grouping state) may cross the
    exchange — the binary media column must not."""
    df = QUERIES["media_dedup"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    # formatted mode lists each operator's Input/Output attribute
    # sets in its numbered section — read the Exchange sections
    sections = plan.split("\n(")
    ex = [s for s in sections if s.split(")")[0].isdigit() and "Exchange" in s.split("\n")[0]]
    assert ex, plan[:1500]
    for s in ex:
        inputs = [l for l in s.splitlines() if l.startswith("Input")]
        assert inputs and all("media#" not in l for l in inputs), s[:800]


def test_repetition_stats_is_scan_fused_zero_shuffle(spark, sf_dir):
    """The repetition quality filters are row-local array algebra —
    a pure projection with NO exchange at any corpus size."""
    df = QUERIES["repetition_stats"](spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_doc_length_quantiles_avoids_global_sort(spark, sf_dir):
    """Exact percentiles via count-by-value: the only Sort in the
    plan runs on the |distinct token counts|-row frame (bounded by
    the value domain), never on the corpus — asserted by the absence
    of a sort-based percentile aggregate and by the shuffle count
    (value-counts agg + tiny window + broadcast total + scalar agg)."""
    df = QUERIES["doc_length_quantiles"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "percentile" not in plan.lower()  # no sort-everything aggregate
    assert plans.count_exchanges(df) <= 4


def test_neardup_exact_pair_join_is_hash_not_nested_loop(spark, sf_dir):
    """The O(n^2) calibration twin must generate pairs through the
    blocked EQUI join (codegen-eligible BroadcastHashJoin on the
    (ga, gb) block keys), never a theta BroadcastNestedLoopJoin over
    the vector frames — the 16-row counter expansions are the only
    nested loops allowed in the plan."""
    from analysisofuserbehavior_spark.registry import QUERIES

    plan = (
        QUERIES["embedding_neardup_exact"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # any BNLJ present must be a Cross expansion against the 16-row
    # Range counter, not the pair join (which would say 'Join condition:')
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_q2_derived_topk_and_dim_broadcasts(spark, sf_dir):
    """Top-100 is TakeOrderedAndProject (never Sort+CollectLimit over
    the offers frame); the supplier/nation/region dims broadcast.
    The one sort-merge join allowed is offers ⋈ min_cost on
    ps_partkey — fact-vs-aggregate, correctly co-partitioned at
    scale."""
    df = QUERIES["tpch_q2_derived"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.has_broadcast_join(df)


def test_q11_derived_all_joins_broadcast(spark, sf_dir):
    """Dims broadcast and the global-total comparison is a 1-row
    scalar cross join — no sort-merge join anywhere."""
    df = QUERIES["tpch_q11_derived"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert not plans.has_sort_merge_join(df)


def test_events_cube_single_expand_pass_with_partial_agg(spark, sf_dir):
    """CUBE lowers to ONE Expand + aggregate pass (4 grouping sets in
    a single scan), with map-side partial aggregation before the
    exchange — never one scan per grouping set."""
    df = QUERIES["events_cube"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert plan.count("Expand") >= 1
    assert "partial_" in plan  # map-side combine before the shuffle
    # one agg exchange + the output ordering exchange at most
    assert plans.count_exchanges(df) <= 2


def test_bm25_no_explode_and_take_ordered(spark, sf_dir):
    """Per-term tf is row-local size(filter(...)) — the token array is
    NEVER exploded (no Generate node, so no (doc, term) pair frame
    exists), corpus stats reach the scoring scan via broadcast, and
    the top-k is TakeOrderedAndProject."""
    df = QUERIES["bm25_topk"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


def test_vocab_growth_broadcasts_thresholds_no_smj(spark, sf_dir):
    """The 10-row checkpoint-threshold frame broadcasts onto the
    first-occurrence aggregate; nothing sort-merge joins."""
    df = QUERIES["vocab_growth"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert not plans.has_sort_merge_join(df)


def test_image_features_ppm_media_never_crosses_an_exchange(spark, sf_dir):
    """The decode is mapInPandas chained onto the synthesizer: binary
    payloads are decoded where they are generated and NEVER cross a
    shuffle.  The pin allows at most ONE upstream exchange — the
    adaptive input spread (functions/spread.py) that carries only the
    doc_id proxy — because the heavy codecs (jpeg/gif/adpcm) use it;
    ppm itself dropped the spread in r12 (cheap decode, the exchange
    cost more than the parallelism won) so its plan has zero, which
    the <=1 bound also accepts.  Either way no Exchange input may
    include the media column."""
    df = QUERIES["image_features_ppm"](spark, sf_dir)
    plan = plans.executed_plan(df)
    assert "MapInPandas" in plan
    assert plans.count_exchanges(df) <= 1
    formatted = plans.formatted_plan(df)
    sections = formatted.split("\n(")
    ex = [
        s
        for s in sections
        if s.split(")")[0].isdigit() and "Exchange" in s.split("\n")[0]
    ]
    for s in ex:
        inputs = [l for l in s.splitlines() if l.startswith("Input")]
        assert inputs and all("media#" not in l for l in inputs), s[:800]


def test_lm_family_single_build_no_key_partitioned_windows(
    spark, sf_dir, monkeypatch
):
    """Round-6 de-skew of the text-quality family: each operator
    builds its (doc, token/shingle) pair frame ONCE — captured here
    pre-checkpoint to pin exactly one Generate and one corpus
    scan in the build lineage — and computes corpus totals with
    map-side-combined groupBy + join-back onto the truncated frame.
    NO window may be partitioned by a raw token/shingle/term key: a
    Zipf-head key ("the", a universal boilerplate shingle) would put
    its whole partition on one unsplittable WindowExec task at corpus
    scale (AQE splits skewed joins, not window exchanges).  The only
    windows allowed downstream are doc_id-partitioned ranking windows
    (bounded by doc length); the only parquet rescan allowed is the
    no-explode 1-row total / raw-text rebuild join."""
    from analysisofuserbehavior_spark.functions import ckpt as ckpt_mod
    from analysisofuserbehavior_spark.operators import text_analysis as ta

    captured: list = []
    real_ckpt = ckpt_mod.ckpt

    def capturing(df, eager=False):
        captured.append(df)
        return real_ckpt(df, eager=eager)

    # text_analysis binds `ckpt` at import; the registry's
    # doc_tfidf_top_terms imports it from the module at call time
    monkeypatch.setattr(ta, "ckpt", capturing)
    monkeypatch.setattr(ckpt_mod, "ckpt", capturing)
    for name in (
        "unigram_surprisal",
        "bigram_surprisal",
        "backoff_surprisal",
        "dup_ngram_coverage",
        "remove_dup_spans",
        "doc_tfidf_top_terms",
    ):
        captured.clear()
        df = QUERIES[name](spark, sf_dir)
        assert captured, name  # operator went through the checkpoint
        # an executed AdaptiveSparkPlan prints Final AND Initial plan
        # sections — count nodes in the final section only
        build = plans.executed_plan(captured[0]).split("== Initial Plan ==")[0]
        assert build.count("Generate") == 1, (name, build.count("Generate"))
        assert build.count("Scan parquet") == 1, (name, build)
        plan = plans.executed_plan(df).split("== Initial Plan ==")[0]
        # checkpoint in effect: downstream reads the truncated RDD
        assert "Scan ExistingRDD" in plan, name
        # at most one raw rescan (no-explode total / rebuild join),
        # and the pair-frame explode is never replayed against it
        assert plan.count("Scan parquet") <= 1, (name, plan)
        for ln in plan.splitlines():
            if "windowspecdefinition" in ln:
                assert "doc_id" in ln, (name, ln)


def test_quality_gate_report_two_scans_no_key_windows(spark, sf_dir):
    """The gate's row-local signals are ONE fused projection over the
    scan; the only other corpus read is the LM pair-frame build
    (checkpointed) — so at most two parquet scans, and no window
    partitioned by a token/shingle key anywhere."""
    df = QUERIES["quality_gate_report"](spark, sf_dir)
    plan = plans.executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") <= 2, plan
    for ln in plan.splitlines():
        assert "windowspecdefinition" not in ln, ln


def test_dedup_canonical_no_window_partial_maxby(spark, sf_dir):
    """Canonical keeper selection must be an algebraic aggregate, not
    a window: a boilerplate-dominated corpus puts 10^7+ copies under
    ONE text_hash, and a window partition executes in one task.  Pin
    (a) zero windowspecdefinition nodes and (b) a partial max_by
    HashAggregate BEFORE the exchange (map-side combine), so the hot
    group reaches the reduce as per-map-task partials."""
    df = QUERIES["dedup_exact_canonical"](spark, sf_dir)
    plan = plans.executed_plan(df).split("== Initial Plan ==")[0]
    assert "windowspecdefinition" not in plan, plan
    low = plan.lower()
    assert "partial_max_by" in low, plan


def test_ivf_index_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The 100 TB claim in ann_ivf_topk's docstring, demonstrated:
    over a write_ivf_index cluster-partitioned layout, a single
    query's probe reads ONLY its n_probe cells.  Static mode pins the
    planning-time IN-literal in PartitionFilters with exactly n_probe
    cells; dynamic mode pins DynamicPruningExpression from the
    broadcast probe join.  (inputFiles() ignores filters, so the scan
    node's PartitionFilters metadata is the ground truth here.)"""
    import re

    from analysisofuserbehavior_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, path)
    static = ann_ivf_topk_indexed(spark, path, emb, n_queries=1, n_probe=2)
    splan = plans.executed_plan(static)
    m = re.search(r"PartitionFilters: \[[^\]]*cluster_id[^\]]*IN \(([^)]*)\)", splan)
    assert m, splan
    assert len(m.group(1).split(",")) == 2, m.group(0)  # exactly n_probe cells
    dyn = ann_ivf_topk_indexed(spark, path, emb, n_queries=1, n_probe=2, prune="dynamic")
    dplan = plans.executed_plan(dyn)
    assert "dynamicpruning" in dplan.lower(), dplan


def test_inverted_index_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """bm25_topk_indexed's 100 TB claim, demonstrated: over a
    write_inverted_index token-sharded layout, the query lists and
    reads ONLY its terms' bucket directories.  The bucket IN-literal
    is computed driver-side with zlib.crc32 (no job), so it lands in
    PartitionFilters at planning time; the token IN filter must also
    reach the parquet reader as PushedFilters."""
    import re
    import zlib

    from analysisofuserbehavior_spark.operators.retrieval import (
        bm25_topk_indexed,
        write_inverted_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "inv_idx")
    write_inverted_index(docs, path)
    terms = ("spark", "join", "window", "stream")
    want_buckets = {zlib.crc32(t.encode()) % 16 for t in terms}
    plan = plans.executed_plan(bm25_topk_indexed(spark, path, terms))
    m = re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    got = {int(x) for x in m.group(1).split(",")}
    assert got == want_buckets, (got, want_buckets)
    assert len(got) < 16  # the prune is real — not all shards listed
    assert re.search(r"PushedFilters: \[In\(token", plan), plan


def test_bpe_iteration_never_rescans_corpus(spark, sf_dir):
    """BPE learning touches the corpus exactly once (the vocab
    collapse); every merge iteration's pair count must read the
    checkpointed vocab RDD, not parquet — at 100 TB a per-iteration
    corpus rescan would multiply the scan cost by num_merges."""
    from analysisofuserbehavior_spark.functions.ckpt import ckpt
    from analysisofuserbehavior_spark.operators.bpe import (
        _pair_counts,
        _word_vocab,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pc = _pair_counts(ckpt(_word_vocab(docs)))
    plan = plans.executed_plan(pc).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 1, plan


def test_composed_pipelines_truncate_stage_lineage(spark, sf_dir):
    """corpus_pipeline_e2e and clean_corpus feed each survivor frame
    into MULTIPLE downstream branches; re-derived branches recompute
    (plan-level exchange reuse does not apply — the round-5 lesson),
    so uncheckpointed these plans scanned the corpus 24× / 13× at
    sf0.01.  Pin: the final executed plan reads only materialized
    stage RDDs, zero direct parquet scans."""
    for name in ("corpus_pipeline_e2e", "clean_corpus"):
        df = QUERIES[name](spark, sf_dir)
        plan = plans.executed_plan(df).split("== Initial Plan ==")[0]
        assert plan.count("Scan parquet") == 0, (name, plan)
        assert plan.count("Scan ExistingRDD") >= 1, (name, plan)


def test_semantic_dedup_plan_shapes(spark, sf_dir):
    """Scale pins for semantic_dedup: (a) the exact-duplicate
    pre-collapse is a map-side-combinable aggregate (partial_min /
    partial_count before its exchange); (b) the intra-cluster pair
    join is an EQUI join on cluster_id — never a cartesian product;
    (c) the only nested-loop joins are the deliberate k-row centroid
    broadcasts (BuildRight, Inner against the 8-row cents frame)."""
    df = QUERIES["semantic_dedup"](spark, sf_dir)
    plan = plans.executed_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln) and "cluster_id" in ln
    ]
    assert pair_joins, plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight, Inner" in ln, ln
    # (a) lives inside the checkpoint-materialization job, invisible
    # from the final (lineage-truncated) plan — pin the aggregate
    # shape directly: groupBy over the vector column must
    # partial-aggregate map-side
    from pyspark.sql import functions as F

    from analysisofuserbehavior_spark.operators.similarity import _with_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reps = (
        _with_vec(emb, "vec_id", "v", "nv")
        .groupBy("v", "nv")
        .agg(F.min("vec_id").alias("vec_id"), F.count(F.lit(1)).alias("_copies"))
    )
    rplan = plans.executed_plan(reps).split("== Initial Plan ==")[0].lower()
    assert "partial_min" in rplan and "partial_count" in rplan, rplan


def test_runtime_bloom_filter_injects_at_scale_thresholds(spark, sf_dir):
    """Spark's InjectRuntimeFilter (enabled in session.py) adds a
    might_contain(bloom_filter_agg(dim keys)) pre-filter on the FACT
    side of a selective shuffle join — the semi-join pushdown that
    skips most fact rows before the exchange at 100 TB.  Locally it
    never fires only because the application-side scan threshold
    defaults to 10 GB; pin the behavior by lowering the threshold and
    asserting (a) the filter appears against the fact scan and (b)
    results are bit-identical with and without it (bloom is a
    false-positive-only pre-screen; the equi-join stays exact)."""
    from pyspark.sql import functions as F

    def build():
        # fresh frame each time: queryExecution is memoized per
        # DataFrame, so the plan must be constructed AFTER the conf
        # flips to see the injected filter
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        pt = spark.read.parquet(f"{sf_dir}/part.parquet").where(
            F.col("p_size") == 1
        )
        return (
            li.join(pt, li.l_partkey == pt.p_partkey)
            .groupBy("p_size")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    baseline = build().collect()
    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            conf.set(k, v)
        j = build()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
        # the pre-filter must hash the FACT key
        assert "xxhash64(l_partkey" in plan, plan
        assert j.collect() == baseline
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_recursive_cte_capability_probe(spark):
    """Spark 4.1 ships WITH RECURSIVE — linear recursion (spines,
    hierarchies) now works in pure Spark SQL.  But the recursive leg
    accepts UNION ALL only: UNION-distinct recursion (what a cyclic
    closure like dedup_clusters' min-label fixpoint needs to
    terminate) raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE.  This pin
    documents WHY the connected-components family stays on the
    iterative driver loop; when a Spark upgrade makes this test fail,
    revisit dedup_clusters/page_bfs_depths for a declarative form."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    got = spark.sql(
        "WITH RECURSIVE t(n) AS ("
        " SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 10"
        ") SELECT sum(n) AS s FROM t"
    ).collect()
    assert got[0].s == 55
    with pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            "WITH RECURSIVE r(a, b) AS ("
            " SELECT 1, 1 UNION SELECT a, b + 1 FROM r WHERE b < 3"
            ") SELECT * FROM r"
        ).collect()


def test_registry_plans_no_cartesian_no_rowwise_python(spark, sf_dir):
    """Anti-pattern regression net over the ENTIRE registry: no query
    may plan a CartesianProduct (unbounded |L|x|R| work — every
    intended cross join in the repo broadcasts a tiny side, which
    plans as BroadcastNestedLoopJoin instead) or a BatchEvalPython
    (row-at-a-time Python UDF — the repo's Python paths are all
    Arrow-vectorized: ArrowEvalPython / *InPandas).  Streaming/replay
    fixtures execute real queries at build time and are linted by
    their own tests instead."""
    from analysisofuserbehavior_spark.registry import QUERIES

    sf = sf_dir
    skip = {n for n in QUERIES if n.startswith("streaming_")} | {
        "ad_blacklist_feedback",  # multi-batch replay loop
    }
    offenders = []
    for name, fn in QUERIES.items():
        if name in skip:
            continue
        plan = fn(spark, sf)._jdf.queryExecution().sparkPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
    assert not offenders, offenders


# Bounded-domain exemptions for the SinglePartition-window lint below:
# each entry names the frame that legitimately funnels through one
# task, its SIZE BOUND, and why the bound holds.  Anything not listed
# here (or exceeding its count) fails the lint — this is the
# regression net for the round-8 findings (trending_items_decayed's
# global item ranking, rfm_segments' |users|-sized histogram CDF),
# both since fixed to TakeOrderedAndProject / two-pass bucket rank.
_SINGLE_PARTITION_WINDOW_WHITELIST = {
    # |flow|-row CDF: the task-param page chain (~5 pages), page_flow.py
    "page_convert_rate": (1, "<=|flow| rows (task-param page chain)"),
    "run_task_page_convert": (1, "<=|flow| rows (same plan, ranged scan)"),
    # sweepline boundary frames: 2 rows per distinct hour/day
    "session_concurrency_hourly": (1, "<=2*|hours| boundary rows (sweepline.py)"),
    "open_orders_daily": (1, "<=2*|days| boundary rows (sweepline.py)"),
    # per-calendar-day reduced frames
    "rolling_7d_clicks": (1, "<=|days| rows (daily reduction)"),
    "changepoint_daily": (1, "<=|days| rows (daily reduction)"),
    # count-of-count histograms: one row per DISTINCT per-key count
    "skew_key_diagnostics": (4, "<=|distinct counts| rows per dim (diagnostics.py)"),
    # histogram-CDF quantiles over QUANTIZED domains (the
    # curriculum_stages precondition documented at curation.py)
    "doc_length_quantiles": (1, "<=|distinct token lengths| rows"),
    "curriculum_stages": (1, "<=10^2-ish rows (quality_score 2-dp quantized)"),
    # two-pass distributed rank/prefix-sum: the per-bucket offset
    # frame is <=n_buckets (32) rows by construction
    "user_ltv_deciles": (1, "<=n_buckets=32 offset rows (functions/ranking.py)"),
    "session_length_deciles": (1, "<=n_buckets=32 offset rows (functions/ranking.py)"),
    "dsir_select": (1, "<=n_buckets=32 offset rows (functions/ranking.py quartile)"),
    "winsorized_user_spend": (1, "<=n_buckets=32 offset rows (functions/ranking.py thresholds)"),
    "user_spend_gini": (1, "<=n_buckets=32 offset rows (functions/ranking.py)"),
    "top_decile_spend_share": (1, "<=n_buckets=32 offset rows (functions/ranking.py)"),
    "rfm_segments": (3, "<=n_buckets=32 offset rows x3 dims (functions/ranking.py)"),
    "pack_sequences": (1, "<=n_buckets offset rows (packing.py prefix-sum)"),
    "pack_bin_manifest": (1, "<=n_buckets offset rows (packing.py prefix-sum)"),
    "corpus_pipeline_e2e": (1, "<=n_buckets offset rows (pack stage inside)"),
    "vocab_coverage_curve": (1, "<=n_buckets=32 offset rows (functions/ranking.py)"),
    "perplexity_filtered_corpus": (1, "<=n_buckets=32 offset rows (functions/ranking.py ntile)"),
    "retrieval_ndcg_report": (1, "<=k=20 rows (bm25 top-k rank window)"),
}


def test_registry_plans_no_unbounded_single_partition_window(spark, sf_dir):
    """The round-8 audit found two scale-killers the CartesianProduct/
    BatchEvalPython lint could not see: an `Exchange SinglePartition`
    feeding a Sort/Window over an UNBOUNDED frame (global ranking
    window over all items; cumulative-CDF window over a near-unique
    value histogram) — a one-task sort straggler at 100 TB.  This lint
    flags every SinglePartition exchange whose parent is Sort / Window
    / WindowGroupLimit across the ENTIRE registry, against an explicit
    whitelist where each exemption states its size bound.  Global
    aggregates (SinglePartition feeding HashAggregate) are not
    flagged — they move one partial row per partition, not the frame."""
    from analysisofuserbehavior_spark.registry import QUERIES

    skip = {n for n in QUERIES if n.startswith("streaming_")} | {
        "ad_blacklist_feedback",  # multi-batch replay loop
    }
    offenders = {}
    for name, fn in QUERIES.items():
        if name in skip:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = plans.single_partition_window_sorts(plan)
        if hits:
            offenders[name] = hits
    problems = []
    for name, hits in offenders.items():
        cap = _SINGLE_PARTITION_WINDOW_WHITELIST.get(name)
        if cap is None:
            problems.append(f"{name}: {len(hits)} unwhitelisted {hits}")
        elif len(hits) > cap[0]:
            problems.append(f"{name}: {len(hits)} > whitelisted {cap[0]} ({cap[1]})")
    assert not problems, problems


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Catalyst's runtime row-level bloom filter (the semi-join
    reduction a 100 TB fact⋈filtered-dim join lives on): with a
    selective dimension predicate and a non-broadcast join, the
    optimizer must inject bloom_filter_agg on the creation side and a
    might_contain probe on the fact side, so fact rows that can't
    join are dropped AT THE SCAN, before the shuffle.  Size
    thresholds are tuned down because the testdata is far below the
    production 10MB/10GB defaults — the assertion is that the REWRITE
    fires, which is scale-independent."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = (
            li.join(
                orders.hint("merge"),
                li["l_orderkey"] == orders["o_orderkey"],
            )
            .groupBy()
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


# ── streaming micro-batch plan lint (VERDICT r09 #5) ─────────────────
# The batch lints above skip every streaming_* query plus
# ad_blacklist_feedback because their interesting plans only exist
# INSIDE the stream: the StreamExecution's per-micro-batch executed
# plan (watermark/window/join queries) or the frames a foreachBatch
# body stages (the MERGE-style sinks).  The capture seams in
# plans/audit.py observe both; this test replays every streaming gate
# query at the test SF and lints the captured plans with the same
# whitelist discipline as the batch lint.

# bounded-domain exemptions, same contract as
# _SINGLE_PARTITION_WINDOW_WHITELIST: (max hits, size bound + why)
_STREAMING_SP_WINDOW_WHITELIST: dict[str, tuple[int, str]] = {}

# Python exec nodes: each starts a Python worker per task of every
# micro-batch.  Only the funnel's sequential per-user fold needs one.
_STREAMING_PYTHON_NODES = (
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "ArrowEvalPython",
    "MapInPandas",
)
_STREAMING_PYTHON_WHITELIST = {"streaming_funnel_within_window"}


def test_streaming_micro_batch_plans_lint(spark, sf_dir):
    from analysisofuserbehavior_spark.plans import (
        start_micro_batch_plan_capture,
        stop_micro_batch_plan_capture,
    )
    from analysisofuserbehavior_spark.registry import QUERIES

    names = sorted(n for n in QUERIES if n.startswith("streaming_"))
    names.append("ad_blacklist_feedback")
    problems = []
    for name in names:
        start_micro_batch_plan_capture()
        try:
            # streaming queries execute their streams at build time;
            # materialize the returned batch frame for the stragglers
            # that defer work to the final read
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            captured = stop_micro_batch_plan_capture()
        if not captured:
            problems.append(f"{name}: no micro-batch plan captured (seam lost?)")
            continue
        sp_hits = []
        for tag, plan in captured:
            if "CartesianProduct" in plan:
                problems.append(f"{name}/{tag}: CartesianProduct")
            if "BatchEvalPython" in plan:
                problems.append(f"{name}/{tag}: BatchEvalPython (row-at-a-time UDF)")
            if name not in _STREAMING_PYTHON_WHITELIST:
                problems.extend(
                    f"{name}/{tag}: {node} (Python worker per micro-batch)"
                    for node in _STREAMING_PYTHON_NODES
                    if node in plan
                )
            sp_hits.extend(plans.single_partition_window_sorts(plan))
        cap = _STREAMING_SP_WINDOW_WHITELIST.get(name, (0, "not whitelisted"))
        if len(sp_hits) > cap[0]:
            problems.append(
                f"{name}: {len(sp_hits)} SinglePartition window/sort "
                f"(> {cap[0]}, {cap[1]}): {sp_hits}"
            )
    assert not problems, "\n".join(problems)
