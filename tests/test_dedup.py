from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators import dedup

DOCS_SCHEMA = "doc_id long, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_exact_dedup_groups_identical_texts(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_are_overlapping_trigrams(spark):
    docs = _docs(spark, [(1, "a b c d"), (2, "a b")])  # doc 2 too short
    out = sorted(r["shingle"] for r in dedup.shingles(docs).collect())
    assert out == ["a b c", "b c d"]


def test_ngram_jaccard_finds_near_dups_only(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and often"
    docs = _docs(spark, [(1, near_a), (2, near_b), (3, "completely different words here not matching")])
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]
    assert 0.5 <= out[0]["jaccard"] < 1.0


def test_minhash_lsh_matches_exact_on_sf0001(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert lsh == exact  # exact precision, ~1 recall at 0.96+ sim


def test_max_df_prunes_hot_shingles_but_keeps_near_dups(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and often"
    docs = _docs(spark, [(1, near_a), (2, near_b)])
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=10).collect()
    assert len(out) == 1


def test_prefix_filter_matches_full_jaccard_join(spark, sf_dir):
    """All-Pairs prefix filtering must be LOSSLESS: identical pair
    set and quantized similarities as the canonical full self-join on
    the real corpus, while indexing only a fraction of the shingle
    mass (the pruning claim, asserted on the same run)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    full = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs).collect()))
    pref = sorted(map(tuple, dedup.ngram_jaccard_pairs_prefix(docs).collect()))
    assert pref == full and len(full) > 0


def test_prefix_filter_exact_integer_boundary(spark):
    """⌈t·n⌉ at an EXACT integer boundary: two 9-shingle docs sharing
    8 shingles have J = 8/10 = 0.8 — found iff the ceil is computed
    in integers (IEEE ceil(0.8·9) = ceil(7.2000…04) is fine, but
    ceil(0.8·5) = 5 under IEEE would shorten a 5-shingle prefix below
    the completeness bound; the integer form is exact everywhere)."""
    base = [f"w{i}" for i in range(20)]
    # doc texts built so the 3-gram shingle sets overlap heavily:
    # identical 10-token prefix + distinct single tail token
    a = " ".join(base[:10] + ["onlya"])
    b = " ".join(base[:10] + ["onlyb"])
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    full = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, max_df=None).collect()))
    pref = sorted(
        map(tuple, dedup.ngram_jaccard_pairs_prefix(docs, max_df=None).collect())
    )
    assert pref == full
    # and the threshold=exact-boundary pair family: J exactly 0.8
    n_pairs = 6
    rows = []
    for i in range(n_pairs):
        toks = [f"p{i}x{j}" for j in range(11)]
        rows.append((10 + 2 * i, " ".join(toks)))
        rows.append((11 + 2 * i, " ".join(toks[:-1] + [f"tail{i}"])))
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    full2 = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs2, max_df=None).collect()))
    pref2 = sorted(
        map(tuple, dedup.ngram_jaccard_pairs_prefix(docs2, max_df=None).collect())
    )
    assert pref2 == full2 and len(full2) >= n_pairs


def test_simhash_near_dups_have_small_hamming(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again more words to pad this document out"
    near_b = "the quick brown fox jumps over the lazy dog again and again more words to pad this document away"
    docs = _docs(spark, [(1, near_a), (2, near_b), (3, "totally unrelated text with nothing shared at all whatsoever")])
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])
    pairs = dedup.simhash_pairs(docs, max_hamming=6).collect()
    assert (1, 2) in [(r["doc_a"], r["doc_b"]) for r in pairs]


def test_clean_corpus_stage_semantics(spark):
    """Quality gate, min-id exact keep, greedy near-dup drop."""
    from analysisofuserbehavior_spark.operators.corpus_pipeline import clean_corpus

    long_text = " ".join(f"tok{i} the of and to in is on for with a" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, long_text),                       # survives
            (2, long_text),                       # exact dup of 1 → dropped
            (3, long_text + " extra"),            # near-dup of 1 → dropped (doc_b)
            (4, "short"),                         # fails quality gate
            (5, " ".join(f"unique{i} the of and in on" for i in range(20))),  # survives
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in clean_corpus(docs).collect())
    assert kept == [1, 5]


def test_dedup_clusters_transitive_chains(spark):
    """a~b, b~c, (d~e) → clusters {a,b,c} and {d,e} — the transitive
    closure greedy pair-dropping can't see."""
    from analysisofuserbehavior_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_long_chain_converges(spark):
    from analysisofuserbehavior_spark.operators.dedup import dedup_clusters

    # a 12-node path: worst case for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs, max_iterations=20).collect()}
    assert set(got.values()) == {0}


def test_dedup_clusters_deep_chain_converges_under_defaults(spark):
    """A 10^4-deep path collapses to one cluster WITHOUT raising the
    iteration budget — pointer jumping gives O(log2 D) rounds, so the
    default budget (16) covers it where plain propagation would need
    10^4 rounds and silently return garbage."""
    from analysisofuserbehavior_spark.operators.dedup import dedup_clusters

    depth = 10_000
    pairs = spark.range(depth).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = dedup_clusters(pairs)  # default max_iterations
    assert labels.select("cluster_id").distinct().count() == 1
    assert labels.count() == depth + 1


def test_dedup_clusters_raises_on_exhaustion(spark):
    """An insufficient budget must RAISE, never return partially
    merged labels (the silent-non-convergence hole: unconverged
    labels would let near-dup chains straddle a train/eval split)."""
    import pytest

    from analysisofuserbehavior_spark.operators.dedup import (
        ClusterConvergenceError,
        dedup_clusters,
    )

    # 200-deep path; 2 rounds of propagation+jumping cannot finish
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    with pytest.raises(ClusterConvergenceError):
        dedup_clusters(pairs, max_iterations=2).collect()


def test_slim_band_join_equals_fat_path(spark, sf_dir, tmp_path):
    """The PB-scale slim structure (band join on (doc_id,band,bucket)
    triples + id re-join against the checkpointed sets table) returns
    byte-identical pairs to the default fat band join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fat = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    slim = {
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, checkpoint_dir=str(tmp_path / "mh_sets")
        ).collect()
    }
    assert slim == fat and len(fat) > 0


def test_incremental_admit_screens_exact_near_and_short(spark):
    """Admission gate vs a standing corpus: exact copies (any
    length), near-dups, and sub-shingle-length copies are rejected;
    genuinely new docs are admitted."""
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "an entirely different corpus document about spark engines"),
            (3, "hi there"),  # < 3 tokens: invisible to shingling
        ],
    )
    new = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),  # exact
            (11, "the quick brown fox jumps over the lazy dog again and often"),  # near
            (12, "hi there"),  # short exact copy — only the md5 screen can catch it
            (13, "completely novel content that matches nothing in the corpus"),
            (14, "bye now"),  # short but unseen
        ],
    )
    admitted = sorted(
        r["doc_id"] for r in dedup.incremental_admit(new, corpus, threshold=0.5).collect()
    )
    assert admitted == [13, 14]


def test_incremental_neardup_is_cross_side_only(spark):
    """Near-dups WITHIN the new batch are not this operator's job —
    both survive the corpus screen (batch-internal dedup is
    minhash_lsh_pairs/clean_corpus)."""
    corpus = _docs(spark, [(1, "unrelated corpus text entirely about something else")])
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and often"
    new = _docs(spark, [(10, near_a), (11, near_b)])
    admitted = sorted(
        r["doc_id"] for r in dedup.incremental_neardup(new, corpus, threshold=0.5).collect()
    )
    assert admitted == [10, 11]


def test_dedup_clusters_reliable_checkpoint_equals_local(
    spark, tmp_path, monkeypatch
):
    """Durable-storage checkpointing (SPARK_GRAFT_PAIR_CKPT=reliable
    plus a session checkpoint dir) is a fault-tolerance knob only —
    labels are identical to the localCheckpoint path."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long",
    )
    local = {tuple(r) for r in dedup.dedup_clusters(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_PAIR_CKPT", "reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    durable = {tuple(r) for r in dedup.dedup_clusters(pairs).collect()}
    assert durable == local
    assert {r for r in durable if r[0] in (10, 11, 12, 13)} == {
        (10, 10), (11, 10), (12, 10), (13, 10)
    }


def test_max_df_default_caps_quadratic_boilerplate_fanout(spark):
    """One ultra-frequent shingle must NOT turn into O(df²) candidate
    pairs (round-3 VERDICT): 300 docs sharing the same boilerplate
    text would be 300·299/2 = 44 850 pairs uncapped; with the df cap
    the stop shingles leave the similarity universe and the output
    carries only the genuinely-informative near-dup pair."""
    import inspect

    # the cap must be ON by default — an uncapped default is the
    # 100 TB failure mode the cap exists to prevent
    default = inspect.signature(dedup.ngram_jaccard_pairs).parameters["max_df"].default
    assert isinstance(default, int) and default > 0

    boiler = "terms of service apply to all content on this site"
    docs = _docs(
        spark,
        [(i, boiler) for i in range(300)]
        + [(1000, "a unique sentence about sparkly distributed engines today"),
           (1001, "a unique sentence about sparkly distributed engines tomorrow")],
    )
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=None)
    assert uncapped.count() == 300 * 299 // 2 + 1  # the quadratic blow-up
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=100)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(1000, 1001)}  # boilerplate gone, informative pair kept


def test_exact_dedup_canonical_picks_highest_quality_variant(spark):
    """Formatting variants of one doc share a normalized group; the
    keeper is the highest-quality RAW variant (here: the long
    stopword-bearing lowercase one), not the min doc_id — plain
    exact_dedup would keep doc 1.  Distinct docs stay singletons."""
    from analysisofuserbehavior_spark.operators.dedup import (
        exact_dedup_canonical,
    )

    # 100 tokens, 12 stopwords (ratio 0.12): clean scores the full
    # 1.0; the CAPS variant loses every (case-sensitive) stopword hit
    # (0.6); double-spacing injects 99 empty tokens, diluting the
    # ratio to 12/199 < 0.1 (0.84).  Clean has the HIGHEST id, so a
    # min-id keeper rule would pick wrong.
    base = " ".join((["the", "in", "of"] + [f"w{i}" for i in range(22)]) * 4)
    docs = spark.createDataFrame(
        [
            (1, base.upper()),
            (2, base.replace(" ", "  ")),
            (3, base),
            (4, "unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    got = {r["keep_id"]: r for r in exact_dedup_canonical(docs).collect()}
    assert set(got) == {3, 4}
    assert got[3]["n_copies"] == 3
    assert got[3]["quality_score"] == 1.0
    assert got[4]["n_copies"] == 1
    # same corpus through plain exact_dedup: all four texts differ
    # raw, so nothing merges — the normalized key is what groups them
    from analysisofuserbehavior_spark.operators.dedup import exact_dedup

    assert exact_dedup(docs).count() == 4


def test_exact_dedup_canonical_boilerplate_hot_group_is_partial_agg(spark):
    """The operator's own target input — a boilerplate-dominated
    corpus where ONE normalized text has most of the copies — must
    reach the reduce as per-map-task partials, not as one
    corpus-scale window partition executing in a single task
    (round-6 VERDICT).  5 000 formatting variants of one text across
    many input partitions: (a) the result is still exactly one keeper
    carrying n_copies=5 000 and the highest-quality variant wins, and
    (b) the physical plan has a partial max_by HashAggregate and zero
    windows."""
    from analysisofuserbehavior_spark.operators.dedup import (
        exact_dedup_canonical,
    )
    from analysisofuserbehavior_spark import plans

    base = " ".join((["the", "in", "of"] + [f"w{i}" for i in range(22)]) * 4)
    rows = [(i, base.upper()) for i in range(5000)]
    rows[4321] = (4321, base)  # the sole clean (quality-1.0) variant
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    out = exact_dedup_canonical(docs)
    plan = plans.executed_plan(out).split("== Initial Plan ==")[0]
    assert "windowspecdefinition" not in plan, plan
    assert "partial_max_by" in plan.lower(), plan
    got = out.collect()
    assert len(got) == 1
    assert (got[0]["keep_id"], got[0]["n_copies"]) == (4321, 5000)
    assert got[0]["quality_score"] == 1.0


def test_incremental_admit_sigs_matches_text_screen(spark):
    """The maintained-signature-table screen must make the IDENTICAL
    admission decision as the corpus-text screen — the equivalence
    that lets ingest_corpus_day swap the O(corpus) re-aggregation for
    an O(batch) digest-table probe.  Corpus mix covers every branch:
    exact dup, near dup (jaccard >= 0.8), short docs (< k tokens, no
    shingles -> NULL sig rows), and clean admits."""
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy dog again and often"
    corpus = _docs(
        spark,
        [
            (1, near_a),
            (2, "spark streaming joins windows and watermarks for late data"),
            (3, "tiny"),  # < k tokens: NULL shs/sig in the table
            (4, "a totally different document about parquet footers and stats"),
        ],
    )
    new = _docs(
        spark,
        [
            (10, near_a),  # exact dup of 1 -> rejected by exact screen
            (11, near_b),  # near dup of 1 -> rejected by near screen
            (12, "tiny"),  # exact dup of the short doc -> rejected
            (13, "to"),    # short but unseen -> admitted (no shingles)
            (14, "fresh arrival with novel content about inverted index shards"),
        ],
    )
    via_text = sorted(
        (r["doc_id"], r["text"])
        for r in dedup.incremental_admit(new, corpus).collect()
    )
    sigs = dedup.doc_signature_frame(corpus)
    got = dedup.incremental_admit_sigs(new, sigs)
    assert got.columns == ["doc_id", "text", "text_hash", "shs", "sig"]
    rows = got.collect()
    via_sigs = sorted((r["doc_id"], r["text"]) for r in rows)
    assert via_sigs == via_text == [
        (13, "to"),
        (14, "fresh arrival with novel content about inverted index shards"),
    ]
    # the returned signatures are the table rows the caller appends:
    # md5 hash always present, shs/sig NULL exactly for short docs
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[13]["text_hash"] is not None and by_id[13]["sig"] is None
    assert by_id[14]["sig"] is not None and len(by_id[14]["sig"]) == 64
    assert sorted(by_id[14]["shs"]) == sorted(
        r["sh"]
        for r in dedup.shingles(new.where("doc_id = 14"))
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
        .collect()
    )
