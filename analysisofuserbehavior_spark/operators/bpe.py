"""Distributed BPE (byte-pair-encoding) merge learning.

THE core LLM-tokenizer training workload (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"),
re-expressed for Spark:

  1. collapse the corpus to the WORD VOCABULARY (word, count) — the
     classic optimization that makes BPE tractable: pair statistics
     depend only on distinct words weighted by frequency, so the
     per-iteration working set is |vocab|, not |corpus|;
  2. per merge iteration: explode adjacent symbol pairs (weighted by
     word count), one map-side-combined groupBy, and a 1-row argmax
     with a total-order tie-break (count DESC, left ASC, right ASC);
  3. apply the winning merge to every word with a single literal
     string `replace` over a SENTINEL-WRAPPED symbol string (below) —
     a pure map stage — then truncate lineage (the loop driver,
     functions/iterate.py) so iteration i+1 reads materialized blocks
     instead of replaying all prior rewrites.

Sentinel representation: a word's symbol sequence [s1, s2, ...] is
stored as the string "\\x1f s1 \\x1f \\x1f s2 \\x1f ..." (each symbol
wrapped in \\x1f on both sides, no shared separators).  Replacing the
literal "\\x1f l \\x1f \\x1f r \\x1f" with "\\x1f lr \\x1f" is then
EXACTLY Sennrich's greedy left-to-right non-overlapping merge —
adjacent matches share no characters, so engine `replace` semantics
(scan left, skip past each replacement) coincide with the reference
algorithm, and a symbol can never be split mid-way because \\x1f
can't occur inside one (words containing it are filtered at intake).

Driver traffic is ONE row per iteration (the argmax pair) — the same
bounded pattern as the k-means centroid loop in similarity.py; the
merge table is inherently driver-visible because iteration i+1's plan
embeds iteration i's winner as a literal.

Scale: at 100 TB the vocab frame is ~10⁷-10⁸ rows (unique words), so
each iteration is a small-frame map + one shuffle whose reduce side
is pair-cardinality (bounded by total symbol count).  The corpus is
touched exactly ONCE (the initial word count); learning never rescans
it.  Oracle: the DuckDB mirror unrolls the loop as MATERIALIZED CTE
triples (pairs→best→words per iteration) — hash-gated end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import qround
from ..functions.ckpt import ckpt
from ..functions.iterate import iterate
from ..sources import local_frame

SENTINEL = "\x1f"

MERGE_SCHEMA = StructType(
    [
        StructField("rank", LongType(), False),
        StructField("left_sym", StringType(), False),
        StructField("right_sym", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _word_vocab(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """(ws, cnt): sentinel-wrapped char sequence per distinct word.
    One corpus scan + one map-side-combined groupBy — the only time
    the corpus itself is read.

    `min_count` is the 100 TB working-set guard: a web-scale corpus
    has ~10⁸⁺ unique words but the Zipf tail (hapaxes, typos, hashes)
    carries negligible pair mass — dropping cnt < min_count bounds
    every iteration's frame while leaving merge decisions essentially
    untouched (standard practice: both Sennrich's learn_bpe and
    HF trainers expose exactly this knob)."""
    from ..functions.spread import spread_small_scan

    # guide §2.5: spread the 1-partition gate/bench scan before the
    # tokenize+explode+partial-aggregate stage-1 (no-op at scale)
    words = spread_small_scan(docs.select("doc_id", "text")).select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).where((F.length("word") > 0) & (~F.col("word").contains(SENTINEL)))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        vocab = vocab.where(F.col("cnt") >= min_count)
    # (?s): words split on ' ' may still carry \n/\r — without DOTALL
    # those chars stay unwrapped and corrupt one symbol (ADVICE r07)
    return vocab.select(
        F.regexp_replace(
            F.col("word"), "(?s)(.)", SENTINEL + "$1" + SENTINEL
        ).alias("ws"),
        "cnt",
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency.  `syms` is
    materialized as a real column BEFORE the slices consume it twice —
    the inline-split form makes codegen re-split per element (the
    round-7 quadratic; SCALING.md)."""
    syms = words.select(
        "cnt",
        F.split(
            F.col("ws").substr(F.lit(2), F.length("ws") - 2),
            SENTINEL + SENTINEL,
        ).alias("syms"),
    )
    pairs = syms.select(
        "cnt",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("l"),
                F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("r"),
            )
        ).alias("z"),
    )
    return pairs.groupBy(
        F.col("z.l").alias("left_sym"), F.col("z.r").alias("right_sym")
    ).agg(F.sum("cnt").cast("bigint").alias("pair_count"))


def bpe_learn_merges(
    spark, docs: DataFrame, num_merges: int = 8, min_count: int = 1
) -> DataFrame:
    """Learn `num_merges` BPE merges; returns (rank, left_sym,
    right_sym, merged, pair_count) in learning order.  Stops early if
    the pair space is exhausted (every word fused to one symbol).
    `min_count` prunes the Zipf tail from the vocab working set (see
    _word_vocab)."""
    words = ckpt(_word_vocab(docs, min_count))
    merges: list[tuple] = []

    def merge_round(words: DataFrame, rank: int) -> DataFrame | None:
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym"))
            .limit(1)
            .collect()
        )
        if not top:
            return None
        l, r, pc = top[0]["left_sym"], top[0]["right_sym"], top[0]["pair_count"]
        merges.append((rank, l, r, l + r, pc))
        return words.select(
            F.replace(
                F.col("ws"),
                F.lit(f"{SENTINEL}{l}{SENTINEL}{SENTINEL}{r}{SENTINEL}"),
                F.lit(f"{SENTINEL}{l}{r}{SENTINEL}"),
            ).alias("ws"),
            "cnt",
        )

    # sized to the |vocab|-row frame; the count also forces the lazy
    # checkpoint once, outside the rounds
    iterate(words, merge_round, num_merges, n_rows=words.count())
    return local_frame(spark, merges, MERGE_SCHEMA)


def bpe_encode_stats(
    spark, docs: DataFrame, num_merges: int = 8
) -> DataFrame:
    """Train `num_merges` merges, ENCODE the corpus with them, and
    report tokenizer-quality aggregates in one row: doc/word/char/
    token totals plus chars-per-token (compression) and
    tokens-per-word (fertility — the metric tokenizer_fertility_by_
    lang reports for a fixed regex tokenizer, here for the LEARNED
    subword vocabulary).

    Encoding is a static chain of `num_merges` literal replaces in
    RANK ORDER over the sentinel-wrapped per-word strings (words
    joined by a bare space, so no pair pattern can span a word
    boundary) — a pure map stage over the corpus; token count per doc
    falls out of the sentinel count, no array materialization.  The
    merge table arrives as k driver-side literals (it must — each
    replace is a plan literal), the same bounded driver traffic as
    learning itself.

    Application-order caveat, pinned by unit test: merges apply
    strictly in rank order, each globally greedy-left-to-right (the
    Sennrich reference apply), NOT HF's priority-queue re-scan — for
    merge tables learned by `bpe_learn_merges` on the same corpus the
    two coincide (a later merge can never create an earlier merge's
    pair: that pair would have out-counted it at learning time for it
    to exist), but an arbitrary imported merge table could diverge."""
    merges = bpe_learn_merges(spark, docs, num_merges).collect()
    # materialize the filtered word list ONCE (the round-7 lesson:
    # inline split consumed N times re-splits N times in codegen),
    # then derive counts and the wrapped encoding string from it
    wlist = docs.select(
        F.filter(
            F.split(F.col("text"), " "),
            lambda w: (F.length(w) > 0) & (~w.contains(SENTINEL)),
        ).alias("wlist")
    )
    staged = wlist.select(
        F.size("wlist").cast("bigint").alias("n_words"),
        F.aggregate(
            "wlist",
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.length(w).cast("bigint"),
        ).alias("n_chars"),
        F.array_join(
            F.transform(
                "wlist",
                lambda w: F.regexp_replace(
                    w, "(?s)(.)", SENTINEL + "$1" + SENTINEL
                ),
            ),
            " ",
        ).alias("ws"),
    )
    encoded = F.col("ws")
    for m in merges:
        l, r = m["left_sym"], m["right_sym"]
        encoded = F.replace(
            encoded,
            F.lit(f"{SENTINEL}{l}{SENTINEL}{SENTINEL}{r}{SENTINEL}"),
            F.lit(f"{SENTINEL}{l}{r}{SENTINEL}"),
        )
    # materialize the replace chain as a real column before its two
    # consumers — inline it would be evaluated twice per row (the
    # same multi-consumer rule as `wlist` above)
    enc = staged.select(
        "n_words", "n_chars", encoded.alias("enc")
    )
    per_doc = enc.select(
        "n_words",
        "n_chars",
        # each surviving symbol contributes exactly 2 sentinels
        (
            (
                F.length("enc")
                - F.length(F.replace(F.col("enc"), F.lit(SENTINEL), F.lit("")))
            )
            / 2
        ).cast("bigint").alias("n_tokens"),
    )
    totals = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return totals.select(
        "n_docs",
        "total_words",
        "total_chars",
        "total_tokens",
        qround(
            F.when(
                F.col("total_tokens") > 0,
                F.col("total_chars").cast("double")
                / F.col("total_tokens").cast("double"),
            ),
            6,
        ).alias("chars_per_token"),
        qround(
            F.when(
                F.col("total_words") > 0,
                F.col("total_tokens").cast("double")
                / F.col("total_words").cast("double"),
            ),
            6,
        ).alias("tokens_per_word"),
    )
