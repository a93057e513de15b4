from __future__ import annotations

from analysisofuserbehavior_spark.operators import text_analysis as ta


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats_counts(spark):
    out = ta.text_stats(_docs(spark, [(1, "the cat sat on the mat")])).collect()[0]
    assert out["n_tokens"] == 6
    assert out["n_chars"] == 22
    assert out["stopword_ratio"] == 0.5  # the, on, the
    assert out["avg_token_len"] == 2.83  # 17 alpha chars / 6 tokens


def test_lang_id_heuristic(spark):
    rows = [(1, "the quick fox and the dog"), (2, "zork blat quux flarn")]
    out = {r["doc_id"]: r["lang_guess"] for r in ta.lang_id(_docs(spark, rows)).collect()}
    assert out == {1: "en", 2: "unk"}


def test_fingerprint_is_order_insensitive(spark):
    rows = [(1, "b a c"), (2, "c b a"), (3, "a b d")]
    out = {r["doc_id"]: r["fingerprint"] for r in ta.doc_fingerprint(_docs(spark, rows)).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_token_counts_edges(spark):
    from analysisofuserbehavior_spark.operators.text_analysis import token_counts

    docs = spark.createDataFrame(
        [
            (1, "it's a test, really!"),
            (2, ""),
            (3, "   "),
            (4, "a2b"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"], r["punct_ratio"]) for r in token_counts(docs).collect()}
    # "it's" = one BPE token (apostrophe rule); ",", "!" are symbol tokens
    assert got[1] == (4, 6, 0.15)
    assert got[2] == (0, 0, None)
    assert got[3][0] == 0 and got[3][1] == 0
    assert got[4] == (1, 3, 0.0)


def test_md5_prefix32_matches_python_and_duckdb(spark):
    """The cross-engine token mixer (round 10): Spark's
    conv(substr(md5,1,8),16,10), DuckDB's CAST('0x'||… AS BIGINT) and
    Python's int(hexdigest[:8],16) must agree bit-for-bit — this
    identity is what lets dedup_simhash and doc_rolling_fingerprint
    hash-gate instead of rows-only."""
    import hashlib

    import duckdb

    from analysisofuserbehavior_spark.functions import md5_prefix32

    toks = ["hello", "WORLD", "a", "123", "éclair", "", "two words", "\n"]
    got = {
        r["tok"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in toks], "tok string")
        .select("tok", md5_prefix32("tok").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for t in toks:
        py = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        db = con.execute(
            "SELECT CAST(('0x' || substr(md5(?),1,8)) AS BIGINT)", [t]
        ).fetchone()[0]
        assert got[t] == py == db, (t, got[t], py, db)


def test_rolling_fingerprint_is_order_sensitive_and_deterministic(spark):
    from analysisofuserbehavior_spark.operators.text_analysis import rolling_fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rolling_fp"] for r in rolling_fingerprint(docs).collect()}
    assert got[1] == got[3]          # identical docs agree
    assert got[1] != got[2]          # reordering changes the hash
    again = {r["doc_id"]: r["rolling_fp"] for r in rolling_fingerprint(docs).collect()}
    assert got == again


def test_repetition_stats_flags_looping_docs(spark):
    """Gopher-style repetition signals: a looping doc scores high
    duplicate-ngram fractions, a clean doc scores 0, and short docs
    (fewer words than the ngram order) short-circuit to 0 instead of
    tripping Spark's descending sequence()."""
    from analysisofuserbehavior_spark.operators.text_analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "a quick brown fox jumps over lazy dogs"),
            (3, "hi"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    loop, clean, short = got[1], got[2], got[3]
    assert loop.n_words == 8
    assert loop.dup_word_frac == 0.75         # 8 words, 2 distinct
    assert loop.dup_2gram_frac == round(5 / 7, 6)  # 7 bigrams, 2 distinct
    assert loop.dup_3gram_frac == round(4 / 6, 6)  # 6 trigrams, 2 distinct
    assert (clean.dup_word_frac, clean.dup_2gram_frac, clean.dup_3gram_frac) == (0.0, 0.0, 0.0)
    assert (short.dup_2gram_frac, short.dup_3gram_frac) == (0.0, 0.0)


def test_bigram_surprisal_flags_word_salad(spark):
    """Word-salad (plausible unigrams, unique transitions) must score
    HIGHER bits/bigram than a doc whose transitions repeat — the
    signal unigram_surprisal cannot see.  Also pins an exact value on
    a closed-form corpus: a doc whose every bigram is deterministic
    (c(w1 w2) == c(w1·)) scores exactly 0."""
    from analysisofuserbehavior_spark.operators.text_analysis import (
        bigram_surprisal,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),   # only transitions a->b, b->a
            (2, "a b a b a b a b"),
            (3, "b c d a c b d c"),   # scrambled: same unigram bag family
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    assert got[1]["n_bigrams"] == 7
    # docs 1,2: every a is followed by b and every b by a except where
    # doc 3 contributes competing contexts — doc 3 must score strictly
    # higher than the deterministic-transition docs
    assert got[3]["bits_per_bigram"] > got[1]["bits_per_bigram"]
    assert got[1]["bits_per_bigram"] == got[2]["bits_per_bigram"]
    # closed form: corpus of one doc with fully deterministic
    # transitions has P(w2|w1) = 1 everywhere -> exactly 0 bits
    solo = spark.createDataFrame([(9, "x y x y x y")], "doc_id long, text string")
    assert bigram_surprisal(solo).collect()[0]["bits_per_bigram"] == 0.0


def test_backoff_surprisal_closed_form_both_branches(spark):
    """Pins exact values on a hand-computed corpus exercising BOTH
    branches: repeated trigrams take the main MLE branch (a
    deterministic-transition doc scores exactly 0 bits), singleton
    trigrams take the 0.25-weight backoff (exactly +2 bits plus the
    bigram term).  All counts hand-derived:

      doc 1 "a b c a b c a b c": trigrams (a b c)x3, (b c a)x2,
        (c a b)x2 — each c3 equals its ctx3 -> 0 bits.
      doc 2 "x y z q": both trigrams singletons; their suffix
        bigrams and middle words are unique -> 2 + 0 - 0 = 2 bits.
      doc 3 "q b c": singleton; mid1(b)=5 (3 from doc 1's 'a b c',
        1 here, 1 from doc 4), suf2(b,c)=4 -> 2 + log2(5) - log2(4).
      doc 4 "z b q": singleton; suf2(b,q)=1 -> 2 + log2(5)."""
    from analysisofuserbehavior_spark.operators.text_analysis import (
        backoff_surprisal,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),
            (2, "x y z q"),
            (3, "q b c"),
            (4, "z b q"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in backoff_surprisal(docs).collect()}
    assert got[1]["n_trigrams"] == 7
    assert got[1]["bits_per_trigram"] == 0.0
    assert got[2]["n_trigrams"] == 2
    assert got[2]["bits_per_trigram"] == 2.0
    import math

    assert got[3]["bits_per_trigram"] == round(
        math.floor((2 + math.log2(5) - math.log2(4)) * 1e6 + 0.5) / 1e6, 6
    )
    assert got[4]["bits_per_trigram"] == round(
        math.floor((2 + math.log2(5)) * 1e6 + 0.5) / 1e6, 6
    )
    # backoff scores strictly above the deterministic main branch and
    # the unsupported-suffix doc scores highest
    assert got[4]["bits_per_trigram"] > got[3]["bits_per_trigram"] > got[1]["bits_per_trigram"]


def test_dup_ngram_coverage_closed_form(spark):
    """10 docs share the 3-gram 'x y z' (df=10 >= min_df) and carry
    unique tails; one doc has no duplicated shingle at all.  Coverage
    counts POSITIONS (multiplicity), not distinct shingles."""
    from analysisofuserbehavior_spark.operators.text_analysis import (
        dup_ngram_coverage,
    )

    rows = [(i, f"x y z u{i} v{i}") for i in range(10)]  # 3 shingles each
    rows.append((99, "p q r s"))  # 2 shingles, none duplicated
    rows.append((100, "x y z x y z"))  # 'x y z' twice + 3 bridge shingles
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_ngram_coverage(docs).collect()}
    for i in range(10):
        assert (got[i]["n_ngrams"], got[i]["dup_ngrams"]) == (3, 1)
        assert got[i]["dup_frac"] == 0.333333
    assert (got[99]["dup_ngrams"], got[99]["dup_frac"]) == (0, 0.0)
    # multiplicity: 'x y z' occurs at 2 of doc 100's 4 positions
    assert (got[100]["n_ngrams"], got[100]["dup_ngrams"]) == (4, 2)
    assert got[100]["dup_frac"] == 0.5


def test_remove_dup_spans_scrubs_only_covered_tokens(spark):
    """The transform twin of dup_ngram_coverage: every token covered
    by a heavy 3-gram occurrence is dropped, order of survivors is
    preserved, untouched docs pass through byte-identical, and a doc
    made entirely of heavy spans empties."""
    from analysisofuserbehavior_spark.operators.text_analysis import (
        remove_dup_spans,
    )

    rows = [(i, f"x y z tail{i} a") for i in range(10)]
    rows += [(99, "p q r s"), (100, "x y z x y z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_dup_spans(docs).collect()}
    for i in range(10):  # 'x y z' df=11 >= 10: scrubbed, tail kept in order
        assert (got[i]["text"], got[i]["n_removed"]) == (f"tail{i} a", 3)
    assert (got[99]["text"], got[99]["n_removed"]) == ("p q r s", 0)
    # overlapping heavy starts (0 and 3) cover all six tokens
    assert (got[100]["text"], got[100]["n_removed"]) == ("", 6)


def test_remove_dup_spans_fully_covered_long_doc_is_linear(spark):
    """Worst-case rebuild (round-6 VERDICT): a 100k-token doc that is
    ENTIRELY covered by heavy spans.  The old per-token
    array_contains(covered, i) rebuild was O(n·|covered|) row-locally
    — ~10^10 comparisons on this one row, effectively a hang; the
    array_except rebuild hash-sets the covered indexes (O(n)), so the
    doc must empty in seconds.  Also pins correctness at scale: a
    half-covered sibling keeps exactly its uncovered suffix in
    order."""
    import time

    from analysisofuserbehavior_spark.operators.text_analysis import (
        remove_dup_spans,
    )

    n = 100_000
    heavy = " ".join(["h1 h2 h3"] * (n // 3))  # one doc, fully covered
    half = " ".join(["h1 h2 h3"] * 40) + " " + " ".join(
        f"u{i}" for i in range(120)
    )
    seeds = [(i, "h1 h2 h3 end") for i in range(20)]  # make the 3-gram heavy
    docs = spark.createDataFrame(
        seeds + [(500, heavy), (501, half)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    got = {r["doc_id"]: r for r in remove_dup_spans(docs).collect()}
    elapsed = time.monotonic() - t0
    assert (got[500]["text"], got[500]["n_removed"]) == ("", (n // 3) * 3)
    assert got[501]["text"] == " ".join(f"u{i}" for i in range(120))
    assert got[501]["n_removed"] == 120
    # generous wall bound: linear rebuild finishes in single-digit
    # seconds; the quadratic form could not finish this test at all
    assert elapsed < 60, f"rebuild took {elapsed:.1f}s — quadratic regression?"


def test_pair_ckpt_reliable_mode_same_results(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_PAIR_CKPT=reliable swaps localCheckpoint (executor
    blocks — lost with an executor) for a reliable checkpoint to the
    configured dir (survives executor loss at cluster scale).  Both
    truncate lineage identically, so every result must be
    bit-identical; with no checkpoint dir set the mode must refuse
    with a clear message instead of Py4J-erroring mid-job.  The knob
    covers the LM family AND every iterative loop (pagerank, LPA, BFS,
    k-means) — all truncate through functions.ckpt.ckpt."""
    import pytest

    from analysisofuserbehavior_spark.operators.graph import (
        bfs_depths,
        label_propagation,
        pagerank,
    )
    from analysisofuserbehavior_spark.operators.similarity import kmeans_centroids
    from analysisofuserbehavior_spark.operators.text_analysis import (
        backoff_surprisal,
        bigram_surprisal,
    )

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z q"), (3, "q b c")],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 1), (2, 0, 1), (2, 3, 3), (3, 4, 1), (5, 6, 1)],
        "src long, dst long, weight long",
    )
    source = spark.createDataFrame([(0,)], "node long")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0 + i % 2]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cases = {
        "bigram_surprisal": lambda: bigram_surprisal(docs),
        "backoff_surprisal": lambda: backoff_surprisal(docs),
        "pagerank": lambda: pagerank(edges),
        "label_propagation": lambda: label_propagation(edges),
        "bfs_depths": lambda: bfs_depths(edges, source),
        "kmeans_centroids": lambda: kmeans_centroids(emb, k=3, iters=2),
    }

    def rows(name):
        return sorted(tuple(r) for r in cases[name]().collect())

    base = {name: rows(name) for name in cases}

    monkeypatch.setenv("SPARK_GRAFT_PAIR_CKPT", "reliable")
    # another test in the shared session may have set a checkpoint
    # dir already — clear it so the refusal branch is deterministic
    getattr(spark._jsc.sc(), "checkpointDir_$eq")(
        spark._jvm.scala.Option.empty()
    )
    for name in cases:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            rows(name)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for name in cases:
        assert rows(name) == base[name], name

    monkeypatch.setenv("SPARK_GRAFT_PAIR_CKPT", "bogus")
    with pytest.raises(ValueError, match="local.*reliable"):
        bigram_surprisal(docs).collect()


def _backoff_reference(texts, min_count=2):
    """Pure-Python mirror of backoff_surprisal for property testing."""
    import math
    from collections import Counter

    c3, ctx, suf, mid = Counter(), Counter(), Counter(), Counter()
    doc_tris = {}
    for doc_id, text in texts:
        toks = text.split(" ")
        tris = [tuple(toks[i : i + 3]) for i in range(len(toks) - 2)]
        if not tris:
            continue
        doc_tris[doc_id] = tris
        for t in tris:
            c3[t] += 1
            ctx[t[:2]] += 1
            suf[t[1:]] += 1
            mid[t[1]] += 1
    out = {}
    for doc_id, tris in doc_tris.items():
        bits = 0.0
        for t in tris:
            if c3[t] >= min_count:
                bits += math.log2(ctx[t[:2]]) - math.log2(c3[t])
            else:
                bits += 2.0 + math.log2(mid[t[1]]) - math.log2(suf[t[1:]])
        q = math.floor(bits / len(tris) * 1e6 + 0.5) / 1e6
        out[doc_id] = (len(tris), q)
    return out


def test_backoff_surprisal_matches_python_reference_random_corpora(spark):
    """Property check over randomized small-alphabet corpora
    (hypothesis): the distributed checkpoint+join-back pipeline must
    agree exactly (post-quantization) with a direct Counter-based
    implementation of the same stupid-backoff definition.  Small
    alphabet forces heavy trigram collisions, so both branches and
    all four LM statistics are exercised across examples."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from analysisofuserbehavior_spark.operators.text_analysis import (
        backoff_surprisal,
    )

    @st.composite
    def corpora(draw):
        n_docs = draw(st.integers(min_value=1, max_value=6))
        rows = []
        for d in range(n_docs):
            n_tok = draw(st.integers(min_value=0, max_value=12))
            toks = [
                draw(st.sampled_from(["a", "b", "c", "d"]))
                for _ in range(n_tok)
            ]
            rows.append((d, " ".join(toks)))
        return rows

    @given(corpora())
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    def check(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_trigrams"], r["bits_per_trigram"])
            for r in backoff_surprisal(docs).collect()
        }
        assert got == _backoff_reference(rows)

    check()


def test_quality_gate_signals_match_canonical_operators(spark, sf_dir):
    """quality_gate_report fuses the row-local signal formulas into
    one projection for scan-efficiency; this pins them EQUAL to the
    canonical operators (text_stats.quality_score/n_tokens,
    repetition_stats.dup_3gram_frac, bigram_surprisal) on real data,
    so the duplication cannot drift."""
    from analysisofuserbehavior_spark.operators.corpus_pipeline import (
        quality_gate_report,
    )
    from analysisofuserbehavior_spark.operators.text_analysis import (
        bigram_surprisal,
        repetition_stats,
        text_stats,
    )
    from analysisofuserbehavior_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    got = {r["doc_id"]: r for r in quality_gate_report(docs).collect()}
    ts = {r["doc_id"]: r for r in text_stats(docs).collect()}
    rep = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    lm = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    assert set(got) == set(ts)
    for d, r in got.items():
        assert r["n_tokens"] == ts[d]["n_tokens"]
        assert r["quality_score"] == ts[d]["quality_score"]
        assert r["dup_3gram_frac"] == rep[d]["dup_3gram_frac"]
        expected_bits = lm[d]["bits_per_bigram"] if d in lm else 0.0
        assert r["bits_per_bigram"] == expected_bits
        expected = []
        if r["n_tokens"] < 10:
            expected.append("short")
        if r["quality_score"] < 0.5:
            expected.append("low_quality")
        if r["dup_3gram_frac"] > 0.2:
            expected.append("repetitive")
        if expected_bits > 6.0:
            expected.append("salad")
        assert r["reject_reasons"] == ",".join(expected)
        assert r["accepted"] == (not expected)
