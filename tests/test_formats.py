"""Parquet read paths: schema evolution across ingestion generations
and load_table's schema cache."""

from __future__ import annotations


def test_merge_schema_reads_evolved_partitions(spark, tmp_path):
    """Schema evolution across ingestion generations: a later drop
    adds a column; mergeSchema unifies the read and backfills NULL
    for the old files — the 100 TB reality where re-writing history
    to add a column is not an option."""
    from pyspark.sql import Row

    p = str(tmp_path / "evolved")
    spark.createDataFrame([Row(doc_id=1, text="a")]).write.parquet(f"{p}/g=1")
    spark.createDataFrame(
        [Row(doc_id=2, text="b", quality=0.9)]
    ).write.parquet(f"{p}/g=2")
    got = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(got.columns) == {"doc_id", "text", "quality", "g"}
    rows = {r.doc_id: r for r in got.collect()}
    assert rows[1].quality is None and rows[2].quality == 0.9
    # column pruning still reaches the scan on the merged schema
    assert got.select("doc_id").count() == 2


def test_load_table_schema_cache_rereads_rewritten_paths(spark, tmp_path):
    """Round-12 optimization: load_table caches parquet schemas by
    (path, mtime) so repeated reads skip the per-call inference job
    (the catalog-mode property for path reads).  A REWRITTEN path —
    new mtime, possibly new schema — must re-infer, never read with
    the stale cached schema."""
    import os
    import time

    from analysisofuserbehavior_spark.sources import loaders

    p = str(tmp_path / "events.parquet")
    spark.range(3).selectExpr("id as a").write.mode("overwrite").parquet(p)
    df1 = loaders.load_table(spark, str(tmp_path), "events")
    assert df1.columns == ["a"]
    assert any(k[0] == os.path.abspath(p) for k in loaders._SCHEMA_CACHE)
    # second read of the unchanged path: served from the relation
    # cache via newInstance (round-12 continuation: ~30 ms of py4j/JVM
    # relation building per call otherwise, × >10³ load_table calls
    # per bench run); fresh attribute ids each call, so two
    # independent references self-join cleanly
    assert any(k[1] == os.path.abspath(p) for k in loaders._REL_CACHE)
    again = loaders.load_table(spark, str(tmp_path), "events")
    assert again.columns == ["a"] and again.count() == 3
    joined = df1.join(again, df1["a"] == again["a"])
    assert joined.count() == 3  # would raise AMBIGUOUS_SELF_JOIN if ids shared
    time.sleep(1.1)  # mtime granularity
    spark.range(3).selectExpr(
        "id as b", "timestamp_micros(id) as ts"
    ).write.mode("overwrite").parquet(p)
    df2 = loaders.load_table(spark, str(tmp_path), "events")
    assert sorted(df2.columns) == ["b", "ts"]
    assert df2.count() == 3
