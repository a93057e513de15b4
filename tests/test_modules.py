"""End-to-end module runners driven by the reference's task_param
wire format (modules.run_task) — the migration path for a reference
user: same JSON in, same output tables out."""

from __future__ import annotations

import json

from analysisofuserbehavior_spark.modules import run_task

TASK_JSON = json.dumps(
    {
        "startDate": ["2024-01-03"],
        "endDate": ["2024-01-28"],
        "startAge": ["10"],
        "endAge": ["55"],
        "sex": ["male"],
        "keywords": ["click,view"],
        "targetPageFlow": ["view,click,purchase"],
    }
)


def test_run_task_produces_reference_output_tables(spark, sf_dir):
    out = run_task(spark, TASK_JSON, sf_dir)
    assert set(out) == {
        "session_aggr_stat",
        "session_random_extract",
        "session_detail",
        "top10_category",
        "top10_session",
        "page_split_convert_rate",
        "area_top3_product",
    }
    stat = out["session_aggr_stat"].collect()[0]
    assert stat["session_count"] > 0
    # all sessions fall inside the task's date range
    days = [r["day"] for r in out["session_detail"].select("day").distinct().collect()]
    assert all("2024-01-03" <= d <= "2024-01-28" for d in days)
    # funnel follows targetPageFlow (2 splits for a 3-page flow)
    steps = out["page_split_convert_rate"].collect()
    assert [r["split"] for r in sorted(steps, key=lambda r: r["step"])] == [
        "view_click",
        "click_purchase",
    ]
    assert out["area_top3_product"].count() > 0


def test_run_task_date_filter_pushes_to_scan(spark, sf_dir):
    """The task's date range reaches the parquet scan of the frame
    run_session_module checkpoints, and none of the five outputs scans
    events itself: they all read that one checkpointed scan."""
    from analysisofuserbehavior_spark import modules, plans
    from analysisofuserbehavior_spark.params import TaskParams

    params = TaskParams.from_task_json(TASK_JSON)
    shared = modules._actions_in_range(spark, sf_dir, params)
    pushed = " ".join(plans.pushed_filters(shared))
    assert "GreaterThanOrEqual(ts," in pushed, pushed
    out = run_task(spark, TASK_JSON, sf_dir, modules=("session",))
    for name, df in out.items():
        assert "events.parquet" not in plans.formatted_plan(df), name


def test_run_active_module(spark, sf_dir):
    from analysisofuserbehavior_spark.modules import run_task

    out = run_task(spark, TASK_JSON, sf_dir, modules=("active",))
    assert len(out) == 5
    for name, df in out.items():
        assert df.count() <= 10 * 2, name  # ≤10 winners (joined dims 1:1)


def test_run_ad_module_batch_twin(spark, sf_dir):
    """Module 4's batch twin returns the five ad output tables
    (AdClickRealTimeStatSpark.java:100-590), all restricted to the
    task's date range."""
    out = run_task(spark, TASK_JSON, sf_dir, modules=("ad",))
    assert set(out) == {
        "ad_user_click_count",
        "ad_blacklist",
        "ad_stat",
        "ad_province_top3",
        "ad_click_trend",
    }
    days = [
        r["day"]
        for r in out["ad_user_click_count"].select("day").distinct().collect()
    ]
    assert days and all("2024-01-03" <= d <= "2024-01-28" for d in days)
    assert out["ad_province_top3"].count() > 0
    # every province emits at most 3 ranked rows per day
    from pyspark.sql import functions as F

    over = (
        out["ad_province_top3"]
        .groupBy("day", "province")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 3)
        .count()
    )
    assert over == 0


def test_run_page_module_range_pushes_to_scan(spark, sf_dir):
    """Module 2 now mirrors the reference's getActionRDDByDateRange
    (PageOneStepConvertRateSpark.java:97): the task's ts range must
    reach the parquet scan as pushed-down predicates."""
    from analysisofuserbehavior_spark import plans

    out = run_task(spark, TASK_JSON, sf_dir, modules=("page",))
    pushed = " ".join(plans.pushed_filters(out["page_split_convert_rate"]))
    assert "GreaterThanOrEqual(ts," in pushed, pushed


def test_run_task_session_outputs_match_uncheckpointed_plans(spark, sf_dir):
    """Checkpointing module 1's shared frames changes only how often
    they are computed, never the results: the five outputs equal the
    same session_analysis calls composed over plain plans.  The outputs
    are sunk in reverse order, so each checkpointed frame is first
    materialized by a downstream consumer rather than by its own
    output table."""
    from analysisofuserbehavior_spark import modules
    from analysisofuserbehavior_spark.operators import session_analysis as sa
    from analysisofuserbehavior_spark.params import TaskParams

    params = TaskParams.from_task_json(TASK_JSON)
    actions = modules._actions_in_range(spark, sf_dir, params)
    sessions = sa.session_stats(actions)
    filtered = sa.filter_sessions(sessions, modules.load_users(spark, sf_dir), params)
    chosen = sa.session_random_extract(filtered, total=params.extract_count)
    top_cats = sa.top10_categories(actions)
    plain = {
        "session_aggr_stat": sa.session_aggr_stat(filtered),
        "session_random_extract": chosen,
        "session_detail": sa.session_detail(actions, chosen),
        "top10_category": top_cats,
        "top10_session": sa.top10_category_sessions(actions, top_cats),
    }
    out = run_task(spark, TASK_JSON, sf_dir, modules=("session",))
    assert list(out) == list(plain)
    for name in reversed(list(out)):
        got = sorted(map(tuple, out[name].collect()))
        assert got == sorted(map(tuple, plain[name].collect())), name


AD_RANGES = (
    TASK_JSON,
    json.dumps({"startDate": ["2024-01-10"], "endDate": ["2024-01-12"]}),
)


def _ad_compositions(spark, sf_dir, task_json):
    """Module 4's five tables composed from the ad_stats operators
    over the task's ranged actions, with no shared frame checkpointed."""
    from analysisofuserbehavior_spark import modules
    from analysisofuserbehavior_spark.operators import ad_stats as ads
    from analysisofuserbehavior_spark.params import TaskParams

    params = TaskParams.from_task_json(task_json)
    clicks = ads.clicks(modules._actions_in_range(spark, sf_dir, params))
    per_user = ads.ad_user_click_count(clicks)
    daily_city = ads.daily_city_clicks(per_user, modules.load_users(spark, sf_dir))
    return daily_city, {
        "ad_user_click_count": per_user,
        "ad_blacklist": ads.ad_blacklist(per_user),
        "ad_stat": ads.ad_stat(daily_city),
        "ad_province_top3": ads.ad_province_top3(daily_city),
        "ad_click_trend": ads.ad_click_trend(clicks),
    }


def test_run_ad_module_shares_one_click_scan(spark, sf_dir):
    """Module 4's five tables read the checkpointed click frame and its
    roll-ups, so none of them scans events itself; each equals the same
    ad_stats operators composed over plain plans.  The ranges hold
    per-(day, province) counts tied across the top-3 cut, so the ad_id
    tie-break is exercised."""
    from analysisofuserbehavior_spark import plans

    straddling_ties = 0
    for task_json in AD_RANGES:
        out = run_task(spark, task_json, sf_dir, modules=("ad",))
        daily_city, plain = _ad_compositions(spark, sf_dir, task_json)
        assert list(out) == list(plain)
        for name in reversed(list(out)):
            assert "events.parquet" not in plans.formatted_plan(out[name]), name
            got = sorted(map(tuple, out[name].collect()))
            assert got == sorted(map(tuple, plain[name].collect())), name
            assert got or task_json != TASK_JSON, name
        # province-level counts with more ads at the cut's count than the
        # top-3 kept: the tie-break decided which of them made the cut
        province = {}
        for r in daily_city.collect():
            key = (r["day"], r["area"], r["ad_id"])
            province[key] = province.get(key, 0) + r["click_count"]
        top3 = out["ad_province_top3"].collect()
        cut = {}
        for r in top3:
            k = (r["day"], r["province"])
            cut[k] = min(cut.get(k, r["click_count"]), r["click_count"])
        for (day, prov), c in cut.items():
            tied = [
                ad for (d, p, ad), n in province.items() if (d, p, n) == (day, prov, c)
            ]
            kept = [
                r["ad_id"]
                for r in top3
                if (r["day"], r["province"], r["click_count"]) == (day, prov, c)
            ]
            if len(tied) > len(kept):
                straddling_ties += 1
                assert sorted(kept) == sorted(tied)[: len(kept)], (day, prov)
    assert straddling_ties > 0


def test_run_ad_module_empty_range(spark, sf_dir):
    """A task range with no events gives five empty tables with the
    same schemas as a non-empty run: the three checkpointed frames and
    AQE's folding of empty relations hold on zero rows."""
    empty = run_task(
        spark,
        json.dumps({"startDate": ["2030-01-01"], "endDate": ["2030-01-31"]}),
        sf_dir,
        modules=("ad",),
    )
    full = run_task(spark, TASK_JSON, sf_dir, modules=("ad",))
    assert list(empty) == list(full)
    for name, df in empty.items():
        assert df.collect() == [], name
        assert df.schema == full[name].schema, name
