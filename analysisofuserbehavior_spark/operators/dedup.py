"""Deduplication operators for large-scale document pipelines.

The reference has no document processing (its `distinct` usage is
dropDuplicates on id pairs, UserVisitSessionAnalyzeSpark.java:1376);
these operators extend the engine for training-data pipelines at
100 TB scale:

* `exact_dedup`       — hash-groupBy on md5(text): one shuffle keyed
                        by digest, constant memory per group.
* `ngram_jaccard_pairs` — exact near-dup pairs via the inverted-index
                        join: explode word shingles → self-join on
                        shingle → per-pair intersection vs union.
                        This IS the scalable candidate generation
                        (only docs sharing ≥1 shingle ever meet);
                        `max_df` drops ultra-frequent shingles to cap
                        the join's fan-out on web-scale corpora.
* `minhash_lsh_pairs` — MinHash signatures (k permutations of a
                        2^31-1 modular hash over xxhash64(shingle))
                        → banded LSH bucketing → candidate pairs →
                        EXACT jaccard verification of candidates
                        only.  Verification makes precision exact;
                        recall at the 0.8 default threshold for a
                        0.96-sim pair is 1-(1-0.96^4)^8 ≈ 1-3e-7,
                        so the output equals the exact operator's on
                        realistic near-dup corpora while only
                        candidate pairs are ever compared.
* `simhash_signatures` / `simhash_pairs` — 32-bit SimHash from
                        per-token xxhash64 bit votes; near-dup pairs
                        via banded hamming join (≤`max_hamming`).

All operators are pure built-in expressions (explode / xxhash64 /
bit ops / conditional aggs) — no Python in the hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F

from ..functions import qround

MERSENNE_P = 2147483647  # 2^31 - 1

_rng = random.Random(42)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P)) for _ in range(128)
]


def _shingle_array(k: int, distinct: bool) -> F.Column:
    """array<string> of k-word shingles over the projected `toks`
    column (an inlined split(text) would be re-evaluated per array
    element — k·n splits per row, measured 2.5× slower at sf0.1)."""
    toks = F.col("toks")
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    # per-doc distinct == global (doc_id, shingle) distinct, so the
    # dedup is a row-LOCAL array op: the whole shingle table becomes
    # a pure projection with NO exchange.  (The earlier .distinct()
    # shuffle made every consumer of the shingle table hostage to
    # AQE exchange reuse — when reuse didn't kick in, the composed
    # minhash query recomputed it up to 5× with 3-15 s swings.)
    return F.array_distinct(sh) if distinct else sh


def shingles(docs: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) — k-word shingles, 1-based like the oracle."""
    # a small parquet lands in ONE input split; the ~k·n_tokens
    # fan-out below would then run single-threaded — spread the rows
    # across the cluster before exploding (cheap: pre-explode rows).
    # Round 12: the unconditional round-robin repartition became the
    # shared adaptive spread (functions/spread.py) — projected to
    # (doc_id, text) BEFORE the exchange (guide §2.3), hash-keyed on
    # doc_id (skips the sort-before-repartition a round-robin pays,
    # guide §2.5), and a NO-OP when the scan is already parallel (the
    # 100 TB layout — previously this added a full-corpus shuffle at
    # any scale).
    from ..functions.spread import spread_small_scan

    return (
        spread_small_scan(docs.select("doc_id", "text"))
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .where(F.size(F.col("toks")) >= k)
        .select(F.col("doc_id"), F.explode(_shingle_array(k, distinct)).alias("shingle"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One keeper per identical text: (keep_id = min doc_id, n_copies)."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def exact_dedup_canonical(docs: DataFrame) -> DataFrame:
    """Normalized-exact dedup with QUALITY-AWARE canonical selection:
    duplicates are grouped by the md5 of the NORMALIZED text
    (casefold, whitespace collapsed, trimmed — so formatting variants
    of one document land in one group), and the group keeps its
    highest-quality RAW document (ties → lowest doc_id) — the keeper
    rule production corpora use, where plain exact-dedup's min-id
    pick would happily keep the ALL-CAPS double-spaced variant.
    Quality over identical raw text is constant, which is why this
    selection only becomes meaningful on a normalized key.  Returns
    (keep_id, n_copies, quality_score).

    Scale shape: the keeper is an ALGEBRAIC aggregate —
    max_by(struct(doc_id, score), struct(score, -doc_id)) over
    groupBy(text_hash) — so a boilerplate-dominated corpus where ONE
    normalized text has 10^7+ copies still reduces as per-map-task
    partials (HashAggregate partial_max_by before the exchange); the
    earlier Window.partitionBy(text_hash) form executed each group in
    one task, i.e. corpus-scale for exactly the input this operator
    exists for.  Ordering compares the QUANTIZED quality score then
    -doc_id, so the argmax is unique per group (no nondeterminism)
    and cross-engine float ULPs cannot flip the keeper.

    Whitespace is collapsed with the explicit class [ \\t\\n\\r\\f\\x0B]+
    (== Java's \\s) rather than the regex shorthand: RE2/DuckDB's \\s
    omits \\x0B, so the shorthand would group such docs differently in
    engine vs oracle.  Residual cross-engine caveat (documented, not
    exercised by the ASCII testdata): lower() itself differs between
    the JVM and DuckDB on a handful of non-ASCII code points (the
    Turkish dotted İ class); a corpus carrying those would need an
    explicit locale-stable folding in both dialects."""
    from .text_analysis import text_stats

    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[ \t\n\r\f\x0B]+", " ")
    )
    scored = docs.select("doc_id", F.md5(norm).alias("text_hash")).join(
        text_stats(docs).select("doc_id", "quality_score"), "doc_id"
    )
    # argmax key: highest quality, then lowest doc_id (-doc_id max)
    best = F.max_by(
        F.struct("doc_id", "quality_score"),
        F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        scored.groupBy("text_hash")
        .agg(best.alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.col("keeper.doc_id").alias("keep_id"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("keeper.quality_score").alias("quality_score"),
        )
    )


def _jaccard_from_pairs(
    pairs: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Join per-doc set sizes onto the (tiny) aggregated pair frame.

    The sizes table is one row per document — orders of magnitude
    smaller than the shingle table — so two explicit broadcast joins
    on the post-aggregation pairs cost nothing.  (Carrying sizes
    through the shingle self-join as window columns was measured
    SLOWER and high-variance at sf0.1: it adds two full-table window
    shuffles on doc_id before the heavy join.)"""
    jaccard = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))),
            "doc_b",
        )
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", qround(F.col("jaccard"), 3).alias("jaccard"))
    )


def _doc_sizes(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_sh) as a row-local expression on the documents —
    size(array_distinct(shingles)) — no shuffle, no dependence on
    the exploded shingle table."""
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .where(F.size(F.col("toks")) >= k)
        .select("doc_id", F.size(_shingle_array(k, True)).alias("n_sh"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, k: int = 3, max_df: int | None = 1000
) -> DataFrame:
    """Exact Jaccard near-dup pairs over k-word shingles.

    `max_df` (finite BY DEFAULT) drops "stop shingles" shared by more
    than max_df documents from the similarity universe — both from
    the intersection counts and from the per-doc set sizes, exactly
    like stopword removal.  Without the cap one boilerplate shingle
    shared by 10^6 docs generates 10^12 candidate pairs (O(df²) per
    shingle) — the quadratic blow-up that kills the exact operator on
    web corpora.  Pass `max_df=None` only on corpora known to carry
    no shared boilerplate."""
    # downstream only tests shingle EQUALITY — join on the 8-byte
    # xxhash64 instead of the ~25-byte string (half the shuffle bytes;
    # a 64-bit collision inflating `inter` needs ~2^32 distinct
    # shingles per corpus to become likely)
    dsh = shingles(docs, k).select("doc_id", F.xxhash64("shingle").alias("sh"))
    sizes = _doc_sizes(docs, k)
    if max_df is not None:
        # the heavy list is tiny by construction (≤ |shingle rows| /
        # max_df entries) → map-side-combined df aggregate, then a
        # broadcast anti-join; per-doc sizes are recounted over the
        # surviving shingles so jaccard stays a true set similarity
        # over the informative universe
        heavy = (
            dsh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("sh")
        )
        # truncate once for the THREE downstream consumers (the sizes
        # recount + both self-join legs) — re-derived branches re-ran
        # the shingle explode + df anti-join per branch (the ckpt
        # discipline the prefix variant already applies; profiled
        # 24 s executor time at sf0.1 for a 20 MB shuffle before
        # truncation)
        from ..functions.ckpt import ckpt

        dsh = ckpt(dsh.join(F.broadcast(heavy), "sh", "left_anti"))
        sizes = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        # uncapped (calibration) path: still truncate so the two
        # self-join legs share one shingle materialization
        from ..functions.ckpt import ckpt

        dsh = ckpt(dsh)
    a = dsh.select(F.col("doc_id").alias("doc_a"), "sh")
    # pin the self-join to sort-merge: both legs are the full shingle
    # table (equal, potentially huge — SMJ sorts spill, hash builds
    # don't), and leaving the choice to AQE's size estimates made
    # identical bench runs swing 4-10 s when it flipped strategies
    b = dsh.select(F.col("doc_id").alias("doc_b"), "sh").hint("merge")
    pairs = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_pairs(pairs, sizes, threshold)


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, threshold: float = 0.8, k: int = 3, max_df: int | None = 1000
) -> DataFrame:
    """PREFIX-FILTERED exact Jaccard join (All-Pairs / PPJoin family,
    Bayardo et al. WWW'07) — output-IDENTICAL to `ngram_jaccard_pairs`
    but with the candidate join restricted to each document's PREFIX:
    shingles globally ordered by (df ASC, hash ASC); a document with
    n shingles indexes only its first p = n − ⌈t·n⌉ + 1.  Any pair
    with J ≥ t must share a shingle inside BOTH prefixes (take the
    order-smallest common shingle x: if x were past a's prefix, all
    ≥⌈t·n_a⌉ common shingles would sit in a's ⌈t·n_a⌉−1 suffix slots
    — contradiction; symmetric for b), so completeness is exact while
    the join touches only ~(1−t) of the shingle mass — at t = 0.8
    that is ~4% of the pair work of the full self-join, and the
    df-ascending order puts the RAREST shingles in prefixes, which is
    what caps candidate fan-out on a boilerplate-heavy corpus.

    ⌈t·n⌉ is computed in EXACT integer arithmetic from the rational
    form of t (Fraction(str(t)) → tn/td; (tn·n + td−1) div td): an
    IEEE ceil(0.8·5) = ceil(4.0000000000000002) = 5 would silently
    SHORTEN the prefix below the completeness bound and drop true
    pairs.

    Verification mirrors the slim-join discipline of
    embedding_neardup_lsh: candidates dedup as id-pairs only, then
    re-attach each side's (df,hash)-sorted shingle array once per
    PAIR; `inter` = size(array_intersect) feeds the same
    `_jaccard_from_pairs` tail as the canonical operator, so the
    jaccard float tree, threshold and quantization are shared code —
    equality with the gated query is structural, and the oracle IS
    the gated query's oracle.

    `dsh` and `per_doc` are ckpt-materialized: dsh feeds 2 branches
    (df table + the per-doc rollup) and per_doc feeds 4 (prefix
    explode + both verification sides + the per-doc size
    projection) — re-derived, the composed
    plan ran the shingle scan per branch (20 static exchanges,
    measured); truncated, each is computed once (the
    corpus_pipeline_e2e lesson)."""
    from fractions import Fraction

    from ..functions.ckpt import ckpt

    frac = Fraction(str(threshold))
    tn, td = frac.numerator, frac.denominator
    dsh = shingles(docs, k).select("doc_id", F.xxhash64("shingle").alias("sh"))
    sizes = _doc_sizes(docs, k)
    if max_df is not None:
        heavy = (
            dsh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("sh")
        )
        dsh = dsh.join(F.broadcast(heavy), "sh", "left_anti")
    dsh = ckpt(dsh)
    df_tbl = dsh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = ckpt(
        dsh.join(df_tbl, "sh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("items"))
        .select(
            "doc_id",
            F.transform("items", lambda x: x["sh"]).alias("shs"),
            F.size("items").cast("long").alias("n_sh"),
        )
        .withColumn(
            "p",
            F.expr(f"n_sh - (({tn} * n_sh + {td - 1}) div {td}) + 1").cast(
                "int"
            ),
        )
    )
    if max_df is not None:
        # the per-doc size recount over the SURVIVING shingles is
        # already sitting in the materialized per_doc rollup — a
        # projection, not another aggregate over the shingle table
        # (the pre-ckpt derivation this replaces re-ran the shingle
        # explode + df anti-join + a duplicate heavy broadcast build:
        # profiled as two of this query's four heavy 32-task stages)
        sizes = per_doc.select("doc_id", "n_sh")
    pref = per_doc.select(
        "doc_id", F.explode(F.expr("slice(shs, 1, p)")).alias("sh")
    )
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    sb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("shs_a", "shs_b"))
            .cast("long")
            .alias("inter"),
        )
    )
    return _jaccard_from_pairs(pairs, sizes, threshold)


# Expression-builder note (round-12 continuation): the minhash/band
# builders below are assembled as ONE parsed SQL string per aggregate
# (F.expr) instead of nested Column operator calls.  Construction of
# a 64-perm aggregate through Column ops costs ~10 py4j round trips
# per permutation (~2 s per query construction, measured via cProfile
# — the dominant cost of every minhash consumer's plan build at
# ~0.2-2 ms per round trip); the parsed string is one round trip and
# yields the IDENTICAL analyzed tree (the `cast(.. as bigint)` spelling
# below reproduces F.lit(int)'s implicit cast exactly — asserted
# plan-identical in tests/test_expr_builders.py).  Runtime is
# untouched: same expressions, same codegen, same results.
def _minhash_min_expr(i: int, a: int, b: int, hp: str, alias: str) -> F.Column:
    return F.expr(
        f"min(pmod(cast({a} as bigint) * {hp} + cast({b} as bigint), "
        f"cast({MERSENNE_P} as bigint))) AS {alias}{i}"
    )


def _minhash_sets(docs: DataFrame, k: int, num_perm: int) -> DataFrame:
    """(doc_id, shs, _h0.._hN): the per-doc shingle set and all
    signature minima out of ONE hash-aggregate (codegen'd min
    aggregates — an array-transform formulation re-walks the set once
    per perm in the interpreted HOF evaluator, measured ~8x slower at
    128 perms)."""
    hp = F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE_P))
    return (
        shingles(docs, k)
        .select("doc_id", F.xxhash64("shingle").alias("sh"), hp.alias("hp"))
        .groupBy("doc_id")
        .agg(
            F.collect_set("sh").alias("shs"),
            *[
                _minhash_min_expr(i, a, b, "hp", "_h")
                for i, (a, b) in enumerate(MINHASH_COEFFS[:num_perm])
            ],
        )
    )


def _band_structs(num_perm: int, bands: int) -> F.Column:
    """array<struct<band,bucket>> over a `sig` column — the LSH band
    buckets as a row-local expression.  One parsed string (see the
    expression-builder note above); `named_struct` is the parser
    spelling of the same CreateNamedStruct node F.struct builds."""
    rows_per_band = num_perm // bands
    parts = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {els})))".format(
            b=bi,
            els=", ".join(
                f"element_at(sig, {bi * rows_per_band + ri + 1})"
                for ri in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return F.expr(f"array({parts})")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """MinHash+LSH candidate generation, exact-verified.

    Same output SHAPE as `ngram_jaccard_pairs` — precision is
    exact (candidates re-checked), recall governed by (bands, rows).
    One semantic difference since the exact operator grew its
    default `max_df` stop-shingle cap: LSH verifies FULL shingle
    sets, so on a corpus carrying boilerplate shingles the two can
    legitimately disagree (the gate corpus has none; equality there
    is hash-proven).  A df-heavy shingle does NOT blow up this path
    the way it blows up the inverted-index join: band buckets
    collide only for pairs similar across the WHOLE signature, not
    for pairs sharing one hot shingle — the residual quadratic risk
    is exact-duplicate floods, which `exact_dedup` removes upstream.
    Defaults (64 perms, 16 bands × 4 rows) put the per-pair miss
    probability at the 0.8 threshold at (1-0.8^4)^16 ≈ 2e-4 — vs
    ~1.5% with the old 8-band default, a latent gate flake on any
    corpus with threshold-level pairs.  (128/32 would reach 5e-8 but
    the 129 aggregate buffers fall out of whole-stage codegen's
    field limit and run ~6x slower — measured, not worth it.)
    The wider signature is row-local compute; candidate volume grows
    at mid similarities but every candidate is verified exactly, so
    only work — never precision — is affected.

    Two physical structures, same results (equality pytest-pinned):

    - default (fat band join): the per-doc shingle set rides through
      the band self-join — bands × |set| × 8 B per doc of shuffle,
      but candidate verification is row-local on the joined row.
      Fewest shuffles; the right shape up to ~TB corpora.
    - `checkpoint_dir` set (slim band join): (doc_id, shs, sig) is
      written ONCE to a parquet table; the self-join moves only
      (doc_id, band, bucket) triples, and the surviving candidate
      ids re-join the checkpointed sets (two id-keyed joins) for
      exact verification.  At PB scale the set payload dominates the
      band join by orders of magnitude, so paying two extra slim
      joins to keep it out is the win; the checkpoint also truncates
      lineage so the expensive shingle aggregate runs exactly once
      regardless of AQE exchange-reuse luck.
    """
    # ONE full-table shuffle in the whole operator (the _minhash_sets
    # hash-aggregate); LSH band buckets and the exact verification
    # (array_intersect on the candidate pair's two sets) are
    # row-LOCAL expressions on that set column.
    sets = _minhash_sets(docs, k, num_perm)
    sig = F.array(*[f"_h{i}" for i in range(num_perm)])
    band_structs = _band_structs(num_perm, bands)
    if checkpoint_dir is not None:
        sets.withColumn("sig", sig).write.mode("overwrite").parquet(checkpoint_dir)
        mat = docs.sparkSession.read.parquet(checkpoint_dir)
        slim = (
            mat.select("doc_id", F.explode(band_structs).alias("b"))
            .select("doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
        )
        cand_ids = (
            slim.alias("x")
            .join(slim.alias("y"), ["band", "bucket"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        cand = cand_ids.join(
            mat.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")),
            "doc_a",
        ).join(
            mat.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")),
            "doc_b",
        )
    else:
        # The post-shuffle minhash aggregate (collect_set + num_perm
        # pmod-min buffers) is the operator's most expensive stage, and
        # the band self-join derives it once PER SIDE: AQE reuses the
        # exchange but not the final aggregate above it (profiled at
        # sf0.1 via leakage_safe_split — broadcast-build 13.7 s + probe
        # 7.3 s task CPU, the query's two heaviest stages).
        # Materialize the slim (doc_id, shs, sig) frame once so both
        # join sides and the exact verification read it back instead of
        # re-aggregating; storing |docs| rows once is strictly cheaper
        # than computing the aggregate twice at any scale this fat-join
        # path is the right shape for (the slim checkpoint_dir path
        # already owns the PB regime).
        from ..functions.ckpt import ckpt

        mat = ckpt(
            sets.withColumn("sig", sig).select("doc_id", "shs", "sig"),
            eager=True,
        )
        banded = (
            mat.select("doc_id", "shs", F.explode(band_structs).alias("b"))
            .select("doc_id", "shs", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
        )
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bucket"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("x.shs").alias("shs_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.col("y.shs").alias("shs_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    n_a, n_b = F.size("shs_a").cast("long"), F.size("shs_b").cast("long")
    jaccard = inter.cast("double") / (n_a + n_b - inter).cast("double")
    return (
        cand.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", qround(F.col("jaccard"), 3).alias("jaccard"))
    )


SIMHASH_BITS = 32


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash: per-token hash, ±1 votes per bit, sign.

    The token mixer is md5_prefix32 (round 10, VERDICT r07 #2): a
    32-bit hash both engines compute bit-identically, which turns
    the ENTIRE simhash pipeline — signatures, banded buckets,
    hamming-verified pairs — into integer algebra DuckDB mirrors
    exactly, so `dedup_simhash` hash-gates instead of rows-only.
    (xxhash64 was the original mixer; cheaper per token but with no
    ANSI twin.  The votes/bands/pigeonhole design is unchanged.)"""
    from ..functions import md5_prefix32

    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn("h", md5_prefix32("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.cast("bigint").alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via banded
    join: 4 bands of 8 bits — any pair within distance 3 shares at
    least one exact band (pigeonhole), so the join only compares
    colliding bands, never all pairs."""
    sig = simhash_signatures(docs)
    n_bands, band_bits = 4, SIMHASH_BITS // 4
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bucket"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


class ClusterConvergenceError(RuntimeError):
    """dedup_clusters exhausted max_iterations without reaching the
    connected-components fixpoint — labels would be WRONG (a deep
    chain only partially collapsed), so the operator refuses to
    return them.  Raise the iteration budget; with pointer jumping a
    diameter-D component needs only ~log2(D) rounds, so the default
    budget covers ~2^10-deep chains already."""


def dedup_clusters(pairs: DataFrame, max_iterations: int = 16) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    with cluster_id = the MIN doc_id reachable through any chain of
    pairs.  Upgrades greedy pair-dropping to true transitive dup
    clusters (a~b, b~c ⇒ {a,b,c} even when a,c never pair directly).

    Iterative min-label propagation WITH POINTER JUMPING: each round
    every node takes the min of (its label, its neighbors' labels),
    then shortcuts label ← label(label).  The shortcut halves chain
    depth every round, so a diameter-D component converges in
    O(log2 D) rounds (a 10^4-deep path in ~14) instead of O(D) —
    the difference between "always converges inside the default
    budget" and the silent wrong answer plain propagation gives on
    adversarially deep chains.  Each round is three shuffles
    (neighbor join + agg, pointer self-join) on the label frame,
    whose size is |nodes|, NOT |pairs| — at 100 TB the label frame
    stays small relative to the corpus and the loop runs on the
    driver only as orchestration (one count() per round for the
    convergence check; no data ever collects).

    If the budget exhausts before the fixpoint the function RAISES
    ClusterConvergenceError rather than returning partially-merged
    labels — a silently-unconverged result would let near-dup chains
    straddle a leakage-safe train/eval split downstream.

    The rounds run through `functions/iterate.py::iterate`, so on a
    long multi-round run over a real cluster
    SPARK_GRAFT_PAIR_CKPT=reliable (with a session checkpoint dir)
    moves the round checkpoints to durable storage — a lost executor
    mid-loop then no longer kills the job; results are identical
    (equality pytest-pinned)."""
    from ..functions.ckpt import ckpt
    from ..functions.iterate import iterate

    # truncate the caller's pair pipeline BEFORE the symmetrization
    # union: its two branches (forward + flipped) are re-derived
    # subtrees, so without this the entire candidate-generation +
    # exact-verification pipeline executes twice (profiled at sf0.1
    # on the LSH feed: two identical ~27 s-executor-time stages, the
    # two heaviest stages of the whole query)
    edges = ckpt(pairs.select("doc_a", "doc_b"), eager=True)
    # undirected: propagate both ways
    sym = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    sym = ckpt(sym, eager=True)
    labels = ckpt(labels, eager=True)
    session_parts = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def co_partition(width: int) -> DataFrame:
        # narrower than the session: pre-partition both join sides once
        nonlocal sym
        if width >= session_parts:
            return labels
        sym = ckpt(sym.repartition(width, "doc_b"), eager=True)
        return ckpt(labels.repartition(width, "doc_id"), eager=True)

    def cc_round(labels: DataFrame, _: int) -> DataFrame:
        neighbor_min = (
            sym.join(labels, sym.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("n_label"))
        )
        # carry the round's starting label as `prev`, so the
        # convergence check is a filter on the checkpointed frame
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("prev"),
            F.least(F.col("label"), F.coalesce(F.col("n_label"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jumping: label ← label(label).  Every label is
        # itself a node id (labels start as doc_id and only ever take
        # mins over node ids), so the parent lookup is a self-join;
        # min-monotonicity guarantees label(label(v)) ≤ label(v), the
        # least() is belt-and-braces against the left-join null path.
        # `stepped` is deliberately NOT checkpointed: both self-join
        # sides sit in ONE plan, where ReuseExchange dedupes the
        # re-derived subtree (measured: 2 ReusedExchange nodes, one
        # neighbor join+agg execution) — the cross-ACTION reuse
        # failure that forces checkpoints elsewhere does not apply
        # within a single QueryExecution, and an extra per-round
        # materialization measurably slowed the CC loop ~35%.
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        return stepped.join(parent, stepped.label == parent.p_id, "left").select(
            "doc_id",
            "prev",
            F.least(
                F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
            ).alias("label"),
        )

    # sized to the LABEL frame; `labels` is already materialized
    fixpoint, converged = iterate(
        co_partition,
        cc_round,
        max_iterations,
        n_rows=labels.count(),
        changed=lambda _: F.col("label") != F.col("prev"),
    )
    if not converged:
        raise ClusterConvergenceError(
            f"dedup_clusters did not reach the connected-components "
            f"fixpoint within max_iterations={max_iterations}; labels "
            f"would be wrong for components deeper than the budget — "
            f"raise max_iterations (log2(diameter) rounds suffice)."
        )
    return fixpoint.select("doc_id", F.col("label").alias("cluster_id"))


def incremental_exact_dedup(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Admit the new-batch docs whose exact text is unseen in the
    corpus: one anti-join on md5(text).  Per-increment cost is
    O(batch + corpus-digest scan); in production the corpus digest
    table is a maintained (bucketed) table, so each arriving batch
    pays only its own hashing plus a co-located join probe."""
    seen = corpus.select(F.md5("text").alias("_text_hash")).dropDuplicates()
    return (
        new_docs.withColumn("_text_hash", F.md5("text"))
        .join(seen, "_text_hash", "left_anti")
        .drop("_text_hash")
    )


def incremental_neardup(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Admit the new-batch docs with no near-duplicate (jaccard ≥
    `threshold`) anywhere in the corpus — the screening shape for
    continuously-arriving training data, where re-running all-pairs
    dedup per batch would be quadratic in corpus size.

    Candidates come from joining the batch's LSH band buckets against
    the CORPUS band buckets (never corpus×corpus — only cross-side
    bucket collisions matter for admission), then exact jaccard
    verification of candidates, then an anti-join.  At scale the
    corpus side of the bucket join is a precomputed table maintained
    by the previous increments (the `checkpoint_dir` artifact of
    `minhash_lsh_pairs` has exactly this schema), so a batch pays:
    shingle+sign itself, one bucket join probe, and the verification
    of its own candidates — O(batch), not O(corpus).

    Recall matches `minhash_lsh_pairs` (miss ≈ 2e-4 per pair at the
    0.8 threshold with 64/16 defaults); precision is exact.  Docs
    shorter than k tokens generate no shingles and pass the near
    screen — compose with `incremental_exact_dedup` for them."""
    sig = F.array(*[f"_h{i}" for i in range(num_perm)])

    def banded(side: DataFrame) -> DataFrame:
        return (
            _minhash_sets(side, k, num_perm)
            .withColumn("sig", sig)
            .select("doc_id", "shs", F.explode(_band_structs(num_perm, bands)).alias("b"))
            .select(
                "doc_id",
                "shs",
                F.col("b.band").alias("band"),
                F.col("b.bucket").alias("bucket"),
            )
        )

    cand = (
        banded(new_docs).alias("x")
        .join(banded(corpus).alias("y"), ["band", "bucket"])
        .select(
            F.col("x.doc_id").alias("doc_id"),
            F.col("x.shs").alias("shs_a"),
            F.col("y.doc_id").alias("cor_id"),
            F.col("y.shs").alias("shs_b"),
        )
        .dropDuplicates(["doc_id", "cor_id"])
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    n_a, n_b = F.size("shs_a").cast("long"), F.size("shs_b").cast("long")
    jaccard = inter.cast("double") / (n_a + n_b - inter).cast("double")
    rejected = (
        cand.where(jaccard >= threshold).select("doc_id").dropDuplicates()
    )
    return new_docs.join(rejected, "doc_id", "left_anti")


def incremental_admit(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """The full admission gate for an arriving batch: exact screen
    (catches sub-k-token copies) then near-dup screen vs the corpus.

    The exact survivors are lineage-truncated: the near screen
    consumes them through TWO branches (band bucketing and the final
    anti-join), and re-derived branches recompute the whole exact
    screen.  The checkpoint is batch-sized — the corpus side is the
    caller's frame and is deliberately NOT materialized here (at
    scale it is a maintained digest/signature table)."""
    from ..functions.ckpt import ckpt

    admitted_exact = ckpt(incremental_exact_dedup(new_docs, corpus))
    return incremental_neardup(admitted_exact, corpus, threshold, k)


def doc_signature_frame(
    docs: DataFrame, k: int = 3, num_perm: int = 64
) -> DataFrame:
    """(doc_id, text_hash, shs, sig) per doc — one row of the
    maintained corpus digest/signature table the incremental screens
    probe instead of re-aggregating the corpus text:

    * `text_hash` — md5(text), the exact-screen key (every doc has
      one, including docs too short to shingle);
    * `shs` — the distinct k-shingle xxhash64 set, the near screen's
      exact-verification payload;
    * `sig` — the `num_perm` MinHash minima, the LSH banding input.

    `shs`/`sig` are NULL for docs with fewer than k tokens — exactly
    the docs `_minhash_sets` emits no row for, so a screen built on
    this table bands the same corpus side the text-derived screen
    does.  All three columns are deterministic functions of `text`,
    so the table is rebuildable from the store at any time."""
    sig = F.array(*[f"_h{i}" for i in range(num_perm)])
    sets = _minhash_sets(docs, k, num_perm).select(
        "doc_id", "shs", sig.alias("sig")
    )
    return docs.select("doc_id", F.md5("text").alias("text_hash")).join(
        sets, "doc_id", "left"
    )


def incremental_admit_sigs(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """`incremental_admit`, but screening against the MAINTAINED
    signature table (`doc_signature_frame` rows for every standing
    corpus doc) instead of the corpus text — the O(batch) admission
    the 100 TB contract requires: the batch pays its own hashing and
    shingling, a probe of the digest table, and the verification of
    its own candidates; the corpus text is never touched, and the
    corpus-wide shingle/MinHash aggregate never re-runs.

    Decision-equivalent to `incremental_admit(new_docs, corpus)`
    when `corpus_sigs = doc_signature_frame(corpus)` (pinned in
    tests/test_dedup.py): the exact screen anti-joins md5 against the
    stored `text_hash` column; the near screen bands the stored `sig`
    minima (identical values — deterministic functions of text) and
    verifies candidates against the stored `shs` sets (set-valued, so
    storage order is immaterial to array_intersect/size).  Docs with
    NULL `sig` (shorter than k tokens) are filtered before banding,
    matching the no-row behavior of the text-derived corpus side.

    Returns the admitted docs WITH their own (text_hash, shs, sig)
    columns so the caller can append them to the signature table
    without recomputing — each doc in the corpus's life is shingled
    and hashed exactly once, at admission."""
    from ..functions.ckpt import ckpt

    seen = corpus_sigs.select(
        F.col("text_hash").alias("_text_hash")
    ).dropDuplicates()
    admitted_exact = ckpt(
        new_docs.withColumn("_text_hash", F.md5("text")).join(
            seen, "_text_hash", "left_anti"
        )
    )
    sig = F.array(*[f"_h{i}" for i in range(num_perm)])
    # the batch's signatures feed the band join AND the final
    # attach-back; ckpt so the batch shingle aggregate runs once
    sets_new = ckpt(
        _minhash_sets(admitted_exact, k, num_perm).select(
            "doc_id", "shs", sig.alias("sig")
        )
    )

    def banded(side: DataFrame) -> DataFrame:
        return side.select(
            "doc_id", "shs", F.explode(_band_structs(num_perm, bands)).alias("b")
        ).select(
            "doc_id",
            "shs",
            F.col("b.band").alias("band"),
            F.col("b.bucket").alias("bucket"),
        )

    cand = (
        banded(sets_new).alias("x")
        .join(
            banded(
                corpus_sigs.where(F.col("sig").isNotNull()).select(
                    "doc_id", "shs", "sig"
                )
            ).alias("y"),
            ["band", "bucket"],
        )
        .select(
            F.col("x.doc_id").alias("doc_id"),
            F.col("x.shs").alias("shs_a"),
            F.col("y.doc_id").alias("cor_id"),
            F.col("y.shs").alias("shs_b"),
        )
        .dropDuplicates(["doc_id", "cor_id"])
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    n_a, n_b = F.size("shs_a").cast("long"), F.size("shs_b").cast("long")
    jaccard = inter.cast("double") / (n_a + n_b - inter).cast("double")
    rejected = (
        cand.where(jaccard >= threshold).select("doc_id").dropDuplicates()
    )
    return (
        admitted_exact.join(rejected, "doc_id", "left_anti")
        .withColumnRenamed("_text_hash", "text_hash")
        .join(sets_new, "doc_id", "left")
        .select(*new_docs.columns, "text_hash", "shs", "sig")
    )


# (bands, rows_per_band) grid for a 16-permutation MinHash budget —
# the four factorizations a tuner would sweep
LSH_TUNING_GRID: tuple[tuple[int, int], ...] = ((16, 1), (8, 2), (4, 4), (2, 8))


def _int_pow(col: F.Column, n: int) -> F.Column:
    """col**n by explicit multiplication — plain IEEE double products
    are bit-identical across engines, unlike libm pow()."""
    out = F.lit(1.0)
    for _ in range(n):
        out = out * col
    return out


def lsh_tuning_report(
    docs: DataFrame, k: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Band/row tuning table for MinHash-LSH: for each (b, r) split
    of the signature budget, the EXPECTED candidate-pair volume and
    expected recall at `threshold`, computed from the corpus's own
    exact-Jaccard pair distribution (not from the s-curve alone).

    For a pair with true Jaccard J, LSH with b bands of r rows
    collides with probability p = 1-(1-J^r)^b.  Summing p over the
    real pair distribution gives E[candidates]; restricting to pairs
    with J >= threshold gives E[recall].  This turns the textbook
    s-curve into a measured cost/recall trade-off on the actual
    corpus — the decision input for `minhash_lsh_pairs`' (bands,
    num_perm) parameters.

    Scale: EXACT-DUPLICATE PRE-COLLAPSE (the semantic_dedup round-7
    pattern).  The naive pair census is quadratic in duplicate-group
    size — a corpus where every page has 10 exact copies produces
    100x the pairs for identical information, and OOM'd a local 10x
    replica stress.  Jaccard is a pure function of the TEXT, so the
    census collapses exactly: group by md5(text), run the capped
    self-join over one representative per distinct text, then weight
    each rep-pair by m_a*m_b copies and add the within-group pairs
    (m*(m-1)/2 at J=1.0, for groups whose shingles survive the
    max_df cap).  The max_df document-frequency cap counts
    MULTIPLICITY-WEIGHTED df, so the collapsed universe is
    bit-identical to the naive one — the DuckDB oracle computes the
    NAIVE census and the hash gate proves the collapse exact.
    At true 100 TB the report additionally runs on a uniform doc
    sample — the distribution estimate, not the pair census, is the
    product.

    The per-pair probability is rounded to 6 dp BEFORE the weighted
    sum (both engines add the same quantized values; sums are over
    integer "micro-units" after scaling).  Powers use explicit
    multiplication chains (`_int_pow`), never libm pow().

    Returns one row per grid entry: (bands, rows_per_band,
    s_mid, exp_candidates, n_true, exp_recall)."""
    from ..functions.ckpt import ckpt

    max_df = 1000
    groups = docs.groupBy(F.md5("text").alias("_th")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
        F.count(F.lit(1)).cast("bigint").alias("mult"),
    )
    # NOTE on an optimization measured and REJECTED here (round 12):
    # the shingle explode below is re-derived by parallel broadcast
    # jobs (lazy ckpts don't stop racing job threads — see
    # functions/ckpt.py), but materializing it with eager ckpts lost
    # the A/B at bench scale (3.0 s → 3.7 s min-warm over 5 runs):
    # the duplicated explode is ~3 s of task CPU absorbed by idle
    # cores, while eager materialization adds serial job rounds +
    # block I/O on this latency-dominated entry.
    reps = ckpt(groups.select("doc_id", "text", "mult"))
    mult = reps.select("doc_id", "mult")
    dsh = shingles(reps, k).select("doc_id", F.xxhash64("shingle").alias("sh"))
    # multiplicity-weighted stop-shingle cap: df counts DOCUMENTS of
    # the uncollapsed corpus, i.e. sum of group sizes per shingle
    heavy = (
        dsh.join(F.broadcast(mult), "doc_id")
        .groupBy("sh")
        .agg(F.sum("mult").alias("df"))
        .where(F.col("df") > max_df)
        .select("sh")
    )
    dsh = dsh.join(F.broadcast(heavy), "sh", "left_anti")
    sizes = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = dsh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = dsh.select(F.col("doc_id").alias("doc_b"), "sh").hint("merge")
    rep_pairs = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cross = (
        _jaccard_from_pairs(rep_pairs, sizes, 0.0)
        .join(
            F.broadcast(mult.select(F.col("doc_id").alias("doc_a"), F.col("mult").alias("_ma"))),
            "doc_a",
        )
        .join(
            F.broadcast(mult.select(F.col("doc_id").alias("doc_b"), F.col("mult").alias("_mb"))),
            "doc_b",
        )
        .select("jaccard", (F.col("_ma") * F.col("_mb")).alias("w"))
    )
    within = (
        reps.join(sizes, "doc_id")
        .where(F.col("mult") > 1)
        .select(
            F.lit(1.0).alias("jaccard"),
            F.expr("CAST(mult * (mult - 1) DIV 2 AS BIGINT)").alias("w"),
        )
    )
    # 3-dp quantized jaccard is the distribution's contract (both
    # engines produce it bit-identically); 3 dp of J moves p by
    # < 1e-2 — tuning noise, not signal.
    #
    # Collapse the pair census to its (jaccard → Σw) HISTOGRAM before
    # the grid sweep (round-12 optimization, guide §1.2/§2.3): every
    # grid aggregate below is a function of the 3-dp jaccard (p_u,
    # the threshold test) weighted by the exact BIGINT w, so summing
    # w per distinct jaccard first is bit-identical — Σ_pairs w·p_u =
    # Σ_j (Σ_pairs@j w)·p_u(j) in integer arithmetic.  The b×r sweep
    # then aggregates a ≤1001-row frame instead of re-reading the
    # full pair frame once per grid entry (measured at sf0.1: 4
    # passes × |pairs| ≈ 290 MB of checkpoint re-reads → 1 pass +
    # 4 × ~1 KB; executor time 33 s → see OPTIMIZATION_r12.md).
    pairs = ckpt(
        cross.unionByName(within)
        .groupBy("jaccard")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    out = None
    for b, r in LSH_TUNING_GRID:
        j = F.col("jaccard")
        p = F.lit(1.0) - _int_pow(F.lit(1.0) - _int_pow(j, r), b)
        # 6-dp quantize per pair, then sum exact integer micro-units
        p_u = F.floor(p * 1000000.0 + F.lit(0.5)).cast("bigint")
        is_true = j >= F.lit(threshold)
        w = F.col("w")
        row = pairs.agg(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            # s-curve midpoint (1/b)^(1/r): a per-config CONSTANT —
            # computed in Python (one double, injected as a literal
            # on both sides), so no engine-side root-taking
            F.lit(round((1.0 / b) ** (1.0 / r), 6)).alias("s_mid"),
            qround(
                F.sum(w * p_u).cast("double") / 1000000.0, 3
            ).alias("exp_candidates"),
            F.sum(F.when(is_true, w).otherwise(F.lit(0))).cast("bigint").alias("n_true"),
            # explicit 0.0 when no pair clears the threshold — Spark
            # and DuckDB disagree on double division-by-zero (null vs
            # error), so neither is allowed to reach it
            F.when(
                F.sum(F.when(is_true, w).otherwise(F.lit(0))) == 0, F.lit(0.0)
            )
            .otherwise(
                qround(
                    F.sum(F.when(is_true, w * p_u).otherwise(F.lit(0))).cast(
                        "double"
                    )
                    / (
                        F.sum(F.when(is_true, w).otherwise(F.lit(0))).cast("double")
                        * 1000000.0
                    ),
                    4,
                )
            )
            .alias("exp_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def dedup_contained_docs(docs: DataFrame, anchor_len: int = 4) -> DataFrame:
    """Exact token-run CONTAINMENT dedup: documents whose full token
    sequence appears as a contiguous run inside another document —
    the quote/mirror/wrapper-page class that exact-hash dedup (needs
    equality) and MinHash (needs high Jaccard; a 10-token doc inside
    a 99-token doc has Jaccard ≈ 0.1) both miss, yet which adds zero
    novel tokens to a training corpus.

    Candidate generation is anchor-complete: if A's tokens are a run
    inside B, then EVERY `anchor_len`-gram of A is one of B's
    `anchor_len`-grams — so A may anchor on ANY of its grams and the
    join against the B-gram posting frame still finds every true pair
    (docs shorter than `anchor_len` belong to the exact-dedup pass,
    a restriction the DuckDB oracle mirrors — round-12 ADVICE).
    Verification is a row-local space-delimited substring check;
    equal-text pairs resolve by id (the smaller doc_id survives).

    Anchor-skew mitigation (round-11 VERDICT #1): a fixed first-gram
    anchor keys the candidate join on whatever 4-gram happens to open
    the doc — at 100 TB a stop-gram opener ("in the of the") is a
    quadratic hot key.  Instead each doc anchors on its RAREST gram
    (minimum document frequency, computed from the posting frame
    itself; ties broken by gram text for hash determinism), which is
    strictly stronger than a max-postings cap with fallback: the
    per-doc join fan-out is df(min-df gram) — the smallest any
    complete single-anchor scheme can achieve — and recall is
    lossless by the every-gram-of-A-is-in-B argument above.  Only a
    doc composed entirely of corpus-saturating grams still lands on
    a hot key, and such a doc is near-duplicate of everything by
    construction (its verification work is inherent, and AQE skew
    splitting still applies).  tools/stress_zipf_head.py proves the
    ≤linear data-term ratio on a Zipf-head-adversarial corpus.

    Scale shape: the posting frame is one |tokens|-row explode (the
    inverted-index build's cost) kept SLIM — (id, gram) only, so the
    gram-keyed exchanges (distinct, df count, min_by, candidate join)
    never move document text; texts join back by id only at
    verification, O(1) text copies per doc and per candidate instead
    of O(tokens).  Verification and the final per-doc reduction are
    linear in candidates."""
    from ..functions.ckpt import ckpt
    from ..functions.spread import spread_small_scan

    toks = F.split(F.col("text"), " ")
    # dl floor BEFORE the gram sequence: sequence(0, dl-anchor_len)
    # on a short doc descends through 0 and slice(toks, 0, …) throws
    # (spread: the gram explode below is the query's heaviest map
    # work and serialized on the single-partition gate scan — two
    # identical 1-task ~2 s stages, one per self-join side, profiled)
    meta = spread_small_scan(docs.select("doc_id", "text")).select(
        "doc_id", "text", F.size(toks).cast("bigint").alias("dl")
    ).where(F.size(toks) >= anchor_len)
    mtoks = F.split(F.col("text"), " ")
    # ckpt: the posting frame feeds THREE consumers (df count, the
    # anchors join, the candidate join's b-side) — re-derived, the
    # explode+distinct ran once per self-join side (twin 5.69 MB
    # map stages, profiled)
    grams = ckpt(
        meta.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("dl") - anchor_len),
                    lambda i: F.concat_ws(" ", F.slice(mtoks, i + 1, anchor_len)),
                )
            ).alias("gram"),
        ).distinct()
    )
    # document frequency per gram over the deduped posting frame, then
    # one rarest-gram anchor per doc: min_by over (df, gram) is
    # deterministic (a gram appears once per doc after the distinct)
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    anchors = (
        grams.join(gram_df, "gram")
        .groupBy("doc_id")
        .agg(F.min_by("gram", F.struct("df", "gram")).alias("gram"))
    )
    candidates = (
        grams.select(F.col("doc_id").alias("b_id"), "gram")
        .join(anchors.select(F.col("doc_id").alias("a_id"), "gram"), "gram")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )
    verified = (
        candidates.join(
            meta.select(
                F.col("doc_id").alias("a_id"),
                F.col("text").alias("a_text"),
                F.col("dl").alias("a_dl"),
            ),
            "a_id",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("b_id"),
                F.col("text").alias("b_text"),
                F.col("dl").alias("b_dl"),
            ),
            "b_id",
        )
        .where(
            (F.col("a_dl") < F.col("b_dl"))
            | ((F.col("a_dl") == F.col("b_dl")) & (F.col("a_id") > F.col("b_id")))
        )
        .where(
            F.instr(
                F.concat(F.lit(" "), F.col("b_text"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("a_text"), F.lit(" ")),
            )
            > 0
        )
    )
    return (
        verified.groupBy(F.col("a_id").alias("doc_id"))
        .agg(
            F.countDistinct("b_id").cast("bigint").alias("n_containers"),
            F.min("b_id").cast("bigint").alias("container_id"),
        )
        .orderBy("doc_id")
    )
