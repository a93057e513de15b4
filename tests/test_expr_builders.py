"""Parsed-string expression builders stay identical to the Column-op
forms they replaced (round-12 continuation).

The minhash/LSH builders are constructed as ONE F.expr string per
aggregate instead of nested Column calls — a py4j-round-trip
optimization (construction only; ~10 round trips per permutation in
the old form).  These tests pin the contract that made the rewrite
safe: the parsed string yields the SAME expression tree (minhash:
analyzed-plan-identical; band builders: optimized-plan-identical up
to the struct/named_struct pretty-name) and therefore the same
values, bit for bit.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators import dedup as D
from analysisofuserbehavior_spark.operators import similarity as S


def _norm(df, level: str = "analyzed") -> str:
    qe = df._jdf.queryExecution()
    plan = qe.analyzed() if level == "analyzed" else qe.optimizedPlan()
    s = plan.toString()
    s = re.sub(r"#\d+L?", "#", s)  # expression ids are per-session
    s = re.sub(r"lambda [a-z]+_?\d*#", "lambda V#", s)  # lambda var names
    # the parser spells CreateNamedStruct "named_struct"; F.struct
    # spells it "struct" — same node, same execution
    s = s.replace("named_struct(", "struct(")
    return s


def _docs(spark):
    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i%3} alpha beta") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_sets_expr_string_plan_identical(spark):
    docs = _docs(spark)
    hp = F.pmod(F.xxhash64("shingle"), F.lit(D.MERSENNE_P))
    reference = (
        D.shingles(docs, 3)
        .select("doc_id", F.xxhash64("shingle").alias("sh"), hp.alias("hp"))
        .groupBy("doc_id")
        .agg(
            F.collect_set("sh").alias("shs"),
            *[
                F.min(
                    F.pmod(F.lit(a) * F.col("hp") + F.lit(b), F.lit(D.MERSENNE_P))
                ).alias(f"_h{i}")
                for i, (a, b) in enumerate(D.MINHASH_COEFFS[:64])
            ],
        )
    )
    assert _norm(D._minhash_sets(docs, 3, 64)) == _norm(reference)


def test_band_structs_expr_string_value_and_plan_identical(spark):
    docs = _docs(spark)
    sig = D._minhash_sets(docs, 3, 16).select(
        "doc_id", F.array(*[f"_h{i}" for i in range(16)]).alias("sig")
    )
    rows_per_band = 16 // 8
    reference_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", bi * rows_per_band + ri + 1)
                            for ri in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for bi in range(8)
        ]
    )
    new = sig.select("doc_id", F.explode(D._band_structs(16, 8)).alias("b"))
    old = sig.select("doc_id", F.explode(reference_structs).alias("b"))
    assert _norm(new, "optimized") == _norm(old, "optimized")
    assert [tuple(r) for r in new.orderBy("doc_id", "b.band").collect()] == [
        tuple(r) for r in old.orderBy("doc_id", "b.band").collect()
    ]


def test_session_aggr_stat_expr_string_plan_identical(spark):
    from analysisofuserbehavior_spark.functions import between_count, ratio
    from analysisofuserbehavior_spark.operators import session_analysis as SA

    rows = [(i, (i * 7) % 2000, (i % 70) + 1) for i in range(200)]
    sessions = spark.createDataFrame(
        rows, "session_id bigint, visit_length bigint, step_length bigint"
    )

    # the pre-rewrite Column-op construction, verbatim
    def reference(filtered_sessions):
        vl, sl = F.col("visit_length"), F.col("step_length")
        aggs = [F.count(F.lit(1)).alias("session_count")]
        for name, _ in SA.VISIT_BUCKETS:
            cond = F.expr(SA._BUCKET_CONDS[name].format(c="visit_length"))
            aggs.append(between_count(cond).alias(f"n_{name}"))
        for name, _ in SA.STEP_BUCKETS:
            cond = F.expr(SA._BUCKET_CONDS[name].format(c="step_length"))
            aggs.append(between_count(cond).alias(f"n_{name}"))
        counts = filtered_sessions.agg(*aggs)
        total = F.col("session_count")
        return counts.select(
            total,
            *[
                ratio(F.col(f"n_{name}"), total).alias(f"{name}_ratio")
                for name, _ in SA.VISIT_BUCKETS + SA.STEP_BUCKETS
            ],
        )

    new = SA.session_aggr_stat(sessions)
    old = reference(sessions)
    assert _norm(new, "optimized") == _norm(old, "optimized")
    assert [tuple(r) for r in new.collect()] == [tuple(r) for r in old.collect()]


def test_lsh_band_frame_expr_string_value_identical(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "id bigint, v array<double>")
    planes = S.lsh_planes(8, 16, seed=7)
    bits = [
        (S.dot(F.col("v"), F.array(*[F.lit(c) for c in p])) >= 0).cast("int")
        for p in planes
    ]
    reference_buckets = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(bits[b * 2 + r] * (1 << r) for r in range(2)).alias("bucket"),
            )
            for b in range(4)
        ]
    )
    old = emb.select("id", F.explode(reference_buckets).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    new = S.lsh_band_frame(emb, "id", "v", 8, 2, 16, 7)
    assert [tuple(r) for r in new.orderBy("id", "band").collect()] == [
        tuple(r) for r in old.orderBy("id", "band").collect()
    ]
