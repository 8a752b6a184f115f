"""Unit tests for the vector column expressions (functions/vector.py) —
the engine's pgvector-operator analogs (SURVEY.md §2.3 V2/V3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import vector as V


def _one(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    return df


def test_dot_known_value(spark):
    df = _one(spark, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])
    assert df.select(V.dot("a", "b")).head()[0] == pytest.approx(32.0)


def test_cosine_identical_is_one(spark):
    df = _one(spark, [0.6, 0.8], [0.6, 0.8])
    assert df.select(V.cosine_similarity("a", "b")).head()[0] == pytest.approx(1.0)


def test_cosine_orthogonal_is_zero(spark):
    df = _one(spark, [1.0, 0.0], [0.0, 1.0])
    assert df.select(V.cosine_similarity("a", "b")).head()[0] == pytest.approx(0.0)
    assert df.select(V.cosine_distance("a", "b")).head()[0] == pytest.approx(1.0)


def test_cosine_opposite_is_minus_one(spark):
    df = _one(spark, [1.0, 2.0], [-1.0, -2.0])
    assert df.select(V.cosine_similarity("a", "b")).head()[0] == pytest.approx(-1.0)
    assert df.select(V.cosine_distance("a", "b")).head()[0] == pytest.approx(2.0)


def test_l2_distance_known(spark):
    df = _one(spark, [0.0, 0.0], [3.0, 4.0])
    assert df.select(V.l2_distance("a", "b")).head()[0] == pytest.approx(5.0)


def test_l2_distance_self_is_zero_not_nan(spark):
    # the expansion |a|²−2ab+|b|² can go slightly negative for a≈b;
    # greatest(·,0) must clamp it — never NaN
    df = _one(spark, [0.1, 0.2, 0.30000000001], [0.1, 0.2, 0.3])
    v = df.select(V.l2_distance("a", "b")).head()[0]
    assert v == pytest.approx(0.0, abs=1e-9) and not math.isnan(v)


def test_l2_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a array<double>")
    assert df.select(V.l2_norm("a")).head()[0] == pytest.approx(5.0)


def test_normalize_unit_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a array<double>")
    out = df.select(V.l2_norm(V.normalize("a"))).head()[0]
    assert out == pytest.approx(1.0)


def test_normalize_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0],)], "a array<double>")
    assert df.select(V.normalize("a")).head()[0] is None


def test_cosine_equals_dot_after_normalize(spark):
    """The 100 TB layout invariant (SURVEY.md §4): unit-normalized
    vectors make cosine ≡ dot."""
    df = _one(spark, [1.0, 2.0, 2.0], [2.0, 1.0, 2.0])
    cos, dot_norm = df.select(
        V.cosine_similarity("a", "b"),
        V.dot(V.normalize("a"), V.normalize("b")),
    ).head()
    assert cos == pytest.approx(dot_norm)


def test_unrolled_dot_bit_exact_and_768_fallback(spark, emb):
    """Every unrolled construction (SQL-string form for name+literal
    operands, Column-tree form for arbitrary Columns) must be
    bit-identical to the HOF fold (same left association), and
    dim > UNROLL_MAX_DIM must fall back to the HOF form instead of
    building an over-deep Column tree."""
    qv = [float(x) for x in emb.head()["embedding"]]
    q = F.lit(qv)
    diff = emb.select(
        (V.cosine_similarity("embedding", q)
         - V.cosine_similarity("embedding", qv, dim=64)).alias("d"),  # SQL form
        (V.cosine_similarity("embedding", q)
         - V.cosine_similarity(F.col("embedding"), q, dim=64)).alias("d2"),  # tree form
    ).agg(
        F.sum(F.abs(F.col("d"))), F.sum(F.abs(F.col("d2")))
    ).head()
    assert diff[0] == 0.0 and diff[1] == 0.0

    big = spark.range(50).select(
        F.expr("transform(sequence(0,767), i -> cast(i as double))").alias("v"))
    qb = F.lit([0.5] * 768)
    out = big.select(V.cosine_similarity("v", qb, dim=768).alias("s")).head()
    assert out["s"] is not None  # fell back, computed, no conversion blow-up


def test_fold_query_scorer_bit_identical_to_hof_fold_at_768(spark):
    """At the reference's true dim (768, past UNROLL_MAX_DIM) the one
    query scorer must still equal the HOF fold BIT-FOR-BIT on every
    metric: both associate the sum left to right in array order."""
    import random
    import struct

    rnd = random.Random(7)
    rows = [([rnd.uniform(-1, 1) for _ in range(768)],) for _ in range(40)]
    df = spark.createDataFrame(rows, "v array<double>")
    q = [rnd.uniform(-1, 1) for _ in range(768)]
    qlit = F.lit(q)
    for metric, expr in (
        ("cosine", V.cosine_similarity("v", qlit)),
        ("dot", V.dot("v", qlit)),
        ("l2", V.l2_distance("v", qlit)),
    ):
        got = df.select(
            V.fold_query_scorer(q, metric)(F.col("v")).alias("a"), expr.alias("b")
        ).collect()
        for r in got:
            assert struct.pack("<d", r["a"]) == struct.pack("<d", r["b"]), (
                metric, r["a"], r["b"])


def test_fold_query_scorer_rejects_unknown_metric():
    with pytest.raises(ValueError):
        V.fold_query_scorer([1.0, 0.0], "manhattan")


def test_fold_query_scorer_bit_identical_to_unrolled_expression(spark):
    """The one query scorer must reproduce the unrolled left-fold
    expression BIT-FOR-BIT (not approximately — the full-precision
    oracle gates every vector top-k on these doubles) on all metrics;
    where the expression yields NULL or NaN the scorer yields NULL."""
    import random
    import struct

    rnd = random.Random(13)
    rows = [([rnd.uniform(-1, 1) for _ in range(64)],) for _ in range(64)]
    rows += [(None,), ([float("nan")] + [1.0] * 63,), ([0.0] * 64,)]
    df_all = spark.createDataFrame(rows, "v array<double>")
    # ANSI mode makes the cosine EXPRESSION raise DIVIDE_BY_ZERO on a
    # zero-norm vector, so that row is compared for dot/l2 only (the
    # scorer's NULL there is pinned by the zero-norm test below)
    df_nz = spark.createDataFrame(rows[:-1], "v array<double>")
    q = [rnd.uniform(-1, 1) for _ in range(64)]
    for metric, expr, df in (
        ("cosine", V.cosine_similarity("v", q, 64), df_nz),
        ("dot", V.dot("v", q, 64), df_all),
        ("l2", V.l2_distance("v", q, 64), df_all),
    ):
        got = df.select(
            V.fold_query_scorer(q, metric)(F.col("v")).alias("a"), expr.alias("b")
        ).collect()
        for r in got:
            if r["b"] is None or math.isnan(r["b"]):
                assert r["a"] is None, metric  # NULL stays NULL, NaN scores NULL
            else:
                assert struct.pack("<d", r["a"]) == struct.pack("<d", r["b"]), (
                    metric, r["a"], r["b"])


def test_fold_query_scorer_zero_norm_scores_null_never_nan(spark):
    """A zero-norm corpus vector has no defined cosine — the scorer
    must yield NULL (dropped by cursor filters / ordered last, like
    null vectors), never NaN: Spark orders NaN above every real double,
    so a NaN score would float a garbage row to the TOP of a DESC
    page."""
    rows = [([1.0] * 64,), ([0.0] * 64,), (None,)]
    df = spark.createDataFrame(rows, "v array<double>")
    scorer = V.fold_query_scorer
    got = df.select(scorer([0.5] * 64, "cosine")(F.col("v")).alias("s")).collect()
    vals = [r["s"] for r in got]
    assert vals[0] is not None and not math.isnan(vals[0])
    assert vals[1] is None  # zero-norm -> NULL, not NaN
    assert vals[2] is None
    # dot / l2 have no division: the zero vector keeps a real value
    assert df.select(scorer([0.5] * 64, "dot")(F.col("v")).alias("s")
                     ).collect()[1]["s"] == 0.0
    # a zero-norm QUERY poisons every cosine: all rows NULL, no NaN
    got = df.select(scorer([0.0] * 64, "cosine")(F.col("v")).alias("s")).collect()
    assert all(r["s"] is None for r in got)


def test_fold_query_scorer_ragged_rows_drop_not_crash(spark):
    """A malformed row whose vector is shorter than the query dim must
    score NULL on every metric (l2 included — no greatest(null, 0.0)
    perfect match), not fail the whole Arrow batch; an overlong row is
    read to the query dim (the expression reads a[0..dim))."""
    rows = [([1.0] * 64,), ([1.0] * 10,), ([2.0] * 70,), (None,)]
    df = spark.createDataFrame(rows, "v array<double>")
    q = [1.0] * 64
    got = [r["s"] for r in df.select(
        V.fold_query_scorer(q, "dot")(F.col("v")).alias("s")).collect()]
    assert got[0] == 64.0
    assert got[1] is None          # short row -> NULL
    assert got[2] == 128.0         # overlong row read to the query dim
    assert got[3] is None
    l2 = [r["s"] for r in df.select(
        V.fold_query_scorer(q, "l2")(F.col("v")).alias("s")).collect()]
    assert l2[1] is None and l2[3] is None


def test_fold_normalize_mixed_length_batch(spark):
    """r14 (r13 ADVICE): fold_normalize must handle a batch of
    MIXED-length vectors (the normalize() expression is per-row and
    length-agnostic) instead of failing np.stack."""
    import struct

    rows = [([3.0, 4.0],), ([1.0, 2.0, 2.0],), ([0.0, 0.0],), (None,), ([],)]
    df = spark.createDataFrame(rows, "v array<double>")
    got = df.select(
        V.normalize("v").alias("a"), V.fold_normalize()(F.col("v")).alias("b")
    ).collect()
    for r in got:
        if r["a"] is None or r["b"] is None:
            assert r["a"] is None and r["b"] is None
        else:
            assert [struct.pack("<d", x) for x in r["a"]] == [
                struct.pack("<d", x) for x in r["b"]
            ]


def test_paged_topk_scorer_is_single_arrow_eval(spark, emb):
    """The keyset page must evaluate the one scorer ONCE as
    ArrowEvalPython although its cursor filter references the score
    twice, with the top-k still a TakeOrderedAndProject."""
    from secure_agent_api_vector_search_spark.operators import topk as TK
    from secure_agent_api_vector_search_spark.plans.explain import physical_plan

    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    page1 = TK.topk_similar(emb, qvec, k=10).collect()
    last = page1[-1]
    page2 = TK.topk_similar_after(
        emb, qvec, last_score=last["similarity"], last_id=last["vec_id"], k=10
    )
    import re

    plan = physical_plan(page2)
    # formatted explain prints each node twice (tree + details): count
    # the numbered detail headers, which appear once per node
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_fold_normalize_bit_identical_to_normalize_expression(spark):
    """r13 k-means fit path: fold_normalize must reproduce the
    normalize() expression bit-for-bit, including null rows and the
    zero-norm -> NULL contract (centroid training input feeds
    witness-replay oracles, so ulps matter)."""
    import random
    import struct

    rnd = random.Random(99)
    rows = [([rnd.uniform(-1, 1) for _ in range(64)],) for _ in range(64)]
    rows += [(None,), ([0.0] * 64,)]
    df = spark.createDataFrame(rows, "v array<double>")
    got = df.select(
        V.normalize("v").alias("a"), V.fold_normalize()(F.col("v")).alias("b")
    ).collect()
    for r in got:
        if r["a"] is None or r["b"] is None:
            assert r["a"] is None and r["b"] is None
        else:
            assert [struct.pack("<d", x) for x in r["a"]] == [
                struct.pack("<d", x) for x in r["b"]
            ]
