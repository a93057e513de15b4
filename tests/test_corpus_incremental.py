"""Idempotence contract of the incremental corpus ingest (VERDICT r09
#6): re-running a day's ingest — same inputs, same day — must leave
the store content-identical and the index byte-untouched (the ledger
skips the append), because orchestrator retries and manual backfills
ARE re-runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators.corpus_pipeline import ingest_corpus_day


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "spark streaming joins windows and watermarks for late data"),
        (3, "a totally different document about parquet footers and stats"),
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "fresh arrival with novel content about inverted index shards"),
        (12, "spark streaming joins windows and watermarks for late data"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _listing(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out.append((os.path.relpath(p, root), os.path.getsize(p)))
    return sorted(out)


def test_day2_rerun_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    idx = str(tmp_path / "idx")
    docs = _docs(spark)
    day1 = docs.where(F.col("doc_id") < 10)
    day2 = docs.where(F.col("doc_id") >= 10)
    ingest_corpus_day(spark, day1, "2024-01-01", store, idx, first_day=True)
    ingest_corpus_day(spark, day2, "2024-01-02", store, idx)

    def store_content():
        # partition inference yields day as DATE; compare as ISO text
        return sorted(
            (r["doc_id"], r["text"], str(r["day"]))
            for r in spark.read.parquet(store).collect()
        )

    def index_content():
        post = sorted(
            map(tuple, spark.read.parquet(idx).select(
                "token", "doc_id", "tf", "dl", "bucket").collect())
        )
        stats = sorted(
            map(tuple, spark.read.parquet(idx + "/_stats").collect())
        )
        return post, stats

    store_before = store_content()
    index_files_before = _listing(idx)
    index_before = index_content()

    # exact + near duplicates of the standing corpus must have been
    # screened out; only the genuinely new doc was admitted
    admitted_day2 = [d for d, _t, day in store_before if day == "2024-01-02"]
    assert admitted_day2 == [11]

    # the re-run: same inputs, same day
    ingest_corpus_day(spark, day2, "2024-01-02", store, idx)

    assert store_content() == store_before
    # the ledger must have skipped the append — not one index file
    # touched (name or size)
    assert _listing(idx) == index_files_before
    assert index_content() == index_before
    # and day 1 survived the day-2 overwrite untouched
    assert sorted(d for d, _t, day in store_before if day == "2024-01-01") == [
        1,
        2,
        3,
    ]


def _unique_docs(spark, lo, hi, tag):
    rows = [
        (i, f"{tag} unique document number {i} about topic {i * 7 % 13} "
            f"with filler tokens alpha beta gamma {i}")
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_compaction_then_ingest_does_not_false_crash(spark, tmp_path):
    """round-12 ADVICE: compact_inverted_index collapses _stats to one
    summed row; the ingest guard must treat that as legitimate (and
    the compactor re-bases the ledger), not as an append crash."""
    from analysisofuserbehavior_spark.operators.retrieval import (
        compact_inverted_index,
    )

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    ingest_corpus_day(
        spark, _unique_docs(spark, 0, 5, "d1"), "2024-01-01", store, idx,
        first_day=True,
    )
    ingest_corpus_day(spark, _unique_docs(spark, 10, 15, "d2"), "2024-01-02", store, idx)
    compact_inverted_index(spark, idx)
    assert spark.read.parquet(idx + "/_stats").count() == 1
    # the advertised nightly OPTIMIZE must not block the next morning's ingest
    ingest_corpus_day(spark, _unique_docs(spark, 20, 25, "d3"), "2024-01-03", store, idx)
    docs_in_store = sorted(
        r["doc_id"] for r in spark.read.parquet(store).collect()
    )
    assert docs_in_store == [0, 1, 2, 3, 4, 10, 11, 12, 13, 14, 20, 21, 22, 23, 24]
    # manifest: 1 compacted row + 1 appended row, and the ledger agrees
    assert spark.read.parquet(idx + "/_stats").count() == 2


def test_backfill_earlier_day_keeps_guard_accurate(spark, tmp_path):
    """round-12 ADVICE: backfilling an earlier day must not leave the
    guard comparing against a stale count — both via the _BASELINE
    file and via the max-across-markers fallback for old ledgers."""
    from analysisofuserbehavior_spark.operators.corpus_pipeline import (
        _ledger_committed_stats_rows,
    )
    from analysisofuserbehavior_spark.sources.upsert import _fs_path

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    ingest_corpus_day(
        spark, _unique_docs(spark, 0, 5, "d1"), "2024-01-01", store, idx,
        first_day=True,
    )
    ingest_corpus_day(spark, _unique_docs(spark, 10, 15, "d3"), "2024-01-03", store, idx)
    # backfill an EARLIER day: highest committed count now lives under a
    # lexicographically LOWER marker name
    ingest_corpus_day(spark, _unique_docs(spark, 20, 25, "d2"), "2024-01-02", store, idx)
    fs, _ = _fs_path(spark, idx + "_ledger")
    live = spark.read.parquet(idx + "/_stats").count()
    assert _ledger_committed_stats_rows(spark, fs, idx + "_ledger") == live
    # fallback path: drop the baseline file; max-of-markers must still
    # equal the live count (the old lexicographic-latest logic returned
    # the day-3 marker's stale count here)
    _, baseline = _fs_path(spark, idx + "_ledger/_BASELINE")
    fs.delete(baseline, False)
    assert _ledger_committed_stats_rows(spark, fs, idx + "_ledger") == live
    # and the next ingest proceeds cleanly
    ingest_corpus_day(spark, _unique_docs(spark, 30, 35, "d4"), "2024-01-04", store, idx)


def test_append_crash_is_still_detected(spark, tmp_path):
    """The guard's reason to exist: a crash AFTER append_inverted_index
    but BEFORE the marker leaves a surplus _stats row — the next
    ingest must refuse to double-apply."""
    import pytest
    from analysisofuserbehavior_spark.operators.retrieval import (
        append_inverted_index,
    )

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    ingest_corpus_day(
        spark, _unique_docs(spark, 0, 5, "d1"), "2024-01-01", store, idx,
        first_day=True,
    )
    ingest_corpus_day(spark, _unique_docs(spark, 10, 15, "d2"), "2024-01-02", store, idx)
    # simulate the crash window: an append that never committed its marker
    append_inverted_index(_unique_docs(spark, 20, 25, "crash"), idx)
    with pytest.raises(RuntimeError, match="crashed before its marker"):
        ingest_corpus_day(
            spark, _unique_docs(spark, 30, 35, "d3"), "2024-01-03", store, idx
        )


def test_signature_table_is_maintained_and_screens(spark, tmp_path):
    """Every ingest must leave `<store>_sigs` holding one signature
    row per stored doc (the O(batch) screen's probe set), and a later
    day's screen through the table must still reject exact AND near
    dups of docs admitted days earlier."""
    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and often"
    day1 = spark.createDataFrame(
        [(1, near_a), (2, "day one unique text about watermarks")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(10, "day two unique text about parquet row groups")],
        "doc_id long, text string",
    )
    day3 = spark.createDataFrame(
        [
            (20, near_a),  # exact dup of day-1 doc 1
            (21, near_b),  # near dup of day-1 doc 1
            (22, "day two unique text about parquet row groups"),  # exact dup of day-2
            (23, "genuinely new day three arrival with fresh content"),
        ],
        "doc_id long, text string",
    )
    ingest_corpus_day(spark, day1, "2024-01-01", store, idx, first_day=True)
    ingest_corpus_day(spark, day2, "2024-01-02", store, idx)
    ingest_corpus_day(spark, day3, "2024-01-03", store, idx)
    stored = {
        (r["doc_id"], str(r["day"]))
        for r in spark.read.parquet(store).select("doc_id", "day").collect()
    }
    assert stored == {
        (1, "2024-01-01"),
        (2, "2024-01-01"),
        (10, "2024-01-02"),
        (23, "2024-01-03"),
    }
    sig_rows = {
        (r["doc_id"], str(r["day"]))
        for r in spark.read.parquet(store + "_sigs")
        .select("doc_id", "day")
        .collect()
    }
    assert sig_rows == stored  # one signature row per stored doc
    # a re-run of day 3 (ledger skip) leaves the table untouched
    before = _listing(store + "_sigs")
    ingest_corpus_day(spark, day3, "2024-01-03", store, idx)
    assert _listing(store + "_sigs") == before


def test_legacy_store_without_sigs_self_heals(spark, tmp_path):
    """An ingest onto a store whose signature table is missing (a
    store predating the table) must derive the standing corpus's
    digest from the store, screen correctly against it, and seed the
    FULL table alongside its own batch — so the next day takes the
    O(batch) path with complete coverage."""
    import shutil

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    ingest_corpus_day(
        spark,
        spark.createDataFrame(
            [(1, near_a), (2, "day one unique text about watermarks")],
            "doc_id long, text string",
        ),
        "2024-01-01",
        store,
        idx,
        first_day=True,
    )
    ingest_corpus_day(
        spark,
        spark.createDataFrame(
            [(10, "day two unique text about parquet row groups")],
            "doc_id long, text string",
        ),
        "2024-01-02",
        store,
        idx,
    )
    shutil.rmtree(store + "_sigs")  # simulate a pre-table store
    # day 3 finds no table: falls back to the store-derived digest —
    # near dup of day 1 rejected, exact dup of day 2 rejected — and
    # seeds the table for ALL days
    ingest_corpus_day(
        spark,
        spark.createDataFrame(
            [
                (20, "the quick brown fox jumps over the lazy dog again and often"),
                (21, "day two unique text about parquet row groups"),
                (22, "fresh day three arrival with novel words"),
            ],
            "doc_id long, text string",
        ),
        "2024-01-03",
        store,
        idx,
    )
    day3_stored = {
        r["doc_id"]
        for r in spark.read.parquet(store)
        .where("day = '2024-01-03'")
        .select("doc_id")
        .collect()
    }
    assert day3_stored == {22}
    sig_days = {
        (r["doc_id"], str(r["day"]))
        for r in spark.read.parquet(store + "_sigs")
        .select("doc_id", "day")
        .collect()
    }
    assert sig_days == {
        (1, "2024-01-01"),
        (2, "2024-01-01"),
        (10, "2024-01-02"),
        (22, "2024-01-03"),
    }


def test_partial_signature_table_is_reseeded_not_trusted(spark, tmp_path):
    """A seed write that died part-way leaves a `_sigs` directory that
    misses stored docs.  The next screened ingest must not probe it:
    an exact duplicate of a stored doc the table misses would be
    admitted.  It re-seeds from the store instead, so the duplicate is
    rejected and the table covers every stored doc."""
    from analysisofuserbehavior_spark.operators.dedup import doc_signature_frame

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    ingest_corpus_day(
        spark,
        spark.createDataFrame(
            [(1, near_a), (2, "day one unique text about watermarks")],
            "doc_id long, text string",
        ),
        "2024-01-01",
        store,
        idx,
        first_day=True,
    )
    # the partial seed: only doc 2's signature row reached the table
    stored = spark.read.parquet(store).where("doc_id = 2").select("doc_id", "text")
    (
        doc_signature_frame(stored)
        .withColumn("day", F.lit("2024-01-01"))
        .write.partitionBy("day")
        .parquet(store + "_sigs")
    )
    ingest_corpus_day(
        spark,
        spark.createDataFrame(
            [(20, near_a), (21, "fresh day two arrival with novel words")],
            "doc_id long, text string",
        ),
        "2024-01-02",
        store,
        idx,
    )
    day2_stored = {
        r["doc_id"]
        for r in spark.read.parquet(store)
        .where("day = '2024-01-02'")
        .select("doc_id")
        .collect()
    }
    assert day2_stored == {21}  # doc 20 is an exact dup of doc 1
    sig_rows = {
        (r["doc_id"], str(r["day"]))
        for r in spark.read.parquet(store + "_sigs")
        .select("doc_id", "day")
        .collect()
    }
    assert sig_rows == {(1, "2024-01-01"), (2, "2024-01-01"), (21, "2024-01-02")}


def test_marker_payload_is_live_stats_rows(spark, tmp_path):
    """The commit records the post-ingest `_stats` row count without
    counting it again (each write or append adds exactly one manifest
    row): after every ingest — first day, screened days, after a
    compaction, a backfill, and onto an index with no ledger — the
    day's marker payload and the baseline equal the live row count."""
    import shutil

    from analysisofuserbehavior_spark.operators.retrieval import (
        compact_inverted_index,
    )

    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    ledger = idx + "_ledger"

    def ingest(lo, day, **kw):
        ingest_corpus_day(
            spark, _unique_docs(spark, lo, lo + 5, day), day, store, idx, **kw
        )
        live = spark.read.parquet(idx + "/_stats").count()
        for name in (f"day={day}", "_BASELINE"):
            with open(os.path.join(ledger, name)) as f:
                assert int(f.read()) == live, (day, name)
        return live

    assert ingest(0, "2024-01-01", first_day=True) == 1
    assert ingest(10, "2024-01-02") == 2
    assert ingest(20, "2024-01-04") == 3
    compact_inverted_index(spark, idx)
    assert ingest(30, "2024-01-05") == 2
    assert ingest(40, "2024-01-03") == 3  # backfill an earlier day
    shutil.rmtree(ledger)  # an index built outside the ledger
    assert ingest(50, "2024-01-06") == 4
