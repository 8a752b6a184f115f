"""Top-k (U1/V4) and point lookup (U2) — answers AND plans.

The plan assertions pin the physical shapes SURVEY.md §4 requires:
orderBy+limit must fuse into TakeOrderedAndProject (per-partition heap,
no global sort), lookups must push the predicate into the parquet scan,
and the top-k→documents join must broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.operators import lookup as L
from secure_agent_api_vector_search_spark.operators import topk as TK
from secure_agent_api_vector_search_spark.plans.explain import (
    assert_broadcast_join,
    assert_pushed_filter,
    assert_takeordered,
)


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]


def brute_force_topk(emb_rows, qvec, k):
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    scored = [(r["vec_id"], cos([float(x) for x in r["embedding"]], qvec)) for r in emb_rows]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def test_topk_matches_bruteforce(spark, emb, qvec):
    got = TK.topk_similar(emb, qvec, k=10).collect()
    want = brute_force_topk(emb.collect(), qvec, 10)
    assert [r["vec_id"] for r in got] == [i for i, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["similarity"] == pytest.approx(s, rel=1e-9)


def test_topk_k_exceeds_n(spark, emb, qvec):
    n = emb.count()
    assert TK.topk_similar(emb, qvec, k=n + 50).count() == n


def test_embed_then_search_evaluates_embed_once(spark):
    """Regression: a null pre-filter on a UDF-derived vec column makes
    Catalyst plan a SECOND ArrowEvalPython for the embed UDF (filter
    branch + scoring branch — the embed-then-search shape paid 2x).
    The exclude policy must keep exactly one embed evaluation, at any
    dimension."""
    from secure_agent_api_vector_search_spark.embedder import embed_text, embed_udf

    df = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(20)], "doc_id long, text string"
    )
    for dim in (64, 768):  # below and above UNROLL_MAX_DIM
        emb = df.select("doc_id", embed_udf(dim)(F.col("text")).alias("embedding"))
        out = TK.topk_similar(emb, embed_text("doc number 3", dim), k=3, id_col="doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("_embed") == 1, f"dim {dim}: embed UDF duplicated\n{plan}"
        assert out.head()["doc_id"] == 3  # and it still searches correctly


def test_topk_deterministic_tiebreak(spark):
    """Equal scores must order by id ascending — stable pagination."""
    rows = [(i, [1.0, 0.0]) for i in (5, 3, 9, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = TK.topk_similar(df, [2.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in got] == [1, 3, 5]


def test_topk_plan_is_takeordered(emb, qvec):
    assert_takeordered(TK.topk_similar(emb, qvec, k=5))


def test_find_similar_records_shape_and_plan(docs, emb, qvec):
    df = TK.find_similar_records(docs, emb, qvec, k=5)
    assert df.columns == ["doc_id", "source", "lang", "text", "similarity"]
    assert_broadcast_join(df)
    rows = df.collect()
    assert len(rows) == 5
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    # vec_id 0 is the query vector itself → top hit is its own document
    assert rows[0]["doc_id"] == 0 and rows[0]["similarity"] == pytest.approx(1.0)


def test_similar_to_doc_excludes_self(docs, emb):
    rows = TK.similar_to_doc(docs, emb, doc_id=7, k=5).collect()
    assert 7 not in [r["doc_id"] for r in rows]
    assert len(rows) == 5


def test_lookup_hit(docs):
    rows = L.get_record_by_id(docs, 42).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 42
    assert list(L.LOOKUP_COLUMNS) == list(rows[0].asDict().keys())


def test_lookup_miss_returns_zero_rows(docs):
    assert L.get_record_by_id(docs, -1).count() == 0


def test_lookup_filter_pushed_down(spark, sf_dir):
    # the session-scoped docs fixture is cached (Spark substitutes the
    # InMemoryRelation for any matching plan, hiding the parquet scan),
    # so assert pushdown on an uncached table with the same shape
    from secure_agent_api_vector_search_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 7).select(
        "o_orderkey", "o_totalprice"
    )
    assert_pushed_filter(df, "o_orderkey")


def test_topk_filtered_matches_bruteforce_and_pushes_down(spark, sf_dir):
    from secure_agent_api_vector_search_spark.operators.topk import (
        topk_similar,
        topk_similar_filtered,
    )
    from secure_agent_api_vector_search_spark.sources.tables import (
        load_documents,
        load_embeddings,
    )

    docs = load_documents(spark, sf_dir)
    emb = load_embeddings(spark, sf_dir)
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    out = topk_similar_filtered(
        docs, emb, q, predicate="lang = 'en' AND n_chars >= 100", k=5
    )
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert all(r["lang"] == "en" for r in rows)
    # parity with filter-then-exact-topk computed the naive way
    allowed = {
        r["doc_id"]
        for r in docs.filter("lang = 'en' AND n_chars >= 100").collect()
    }
    brute = topk_similar(
        emb.filter(F.col("vec_id").isin(list(allowed))), q, k=5
    ).collect()
    assert [r["doc_id"] for r in rows] == [r["vec_id"] for r in brute]
    # the metadata predicate reaches the documents parquet scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_mmr_rerank_diversifies_and_is_deterministic(spark, sf_dir):
    import numpy as np

    from secure_agent_api_vector_search_spark.operators.topk import (
        topk_similar,
        topk_similar_mmr,
    )
    from secure_agent_api_vector_search_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, sf_dir)
    # plant 5 near-copies of vec 0 so plain top-k returns a redundant head
    dup = emb.filter("vec_id < 5").selectExpr(
        "vec_id + 100000 AS vec_id",
        "transform(embedding, x -> x * CAST(1.001 AS FLOAT)) AS embedding",
        "label",
    )
    corpus = emb.unionByName(dup)
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]

    plain = [r["vec_id"] for r in topk_similar(corpus, q, k=4).collect()]
    assert set(plain) >= {0, 100000}  # the copy crowds the plain head

    out = topk_similar_mmr(corpus, q, k=4, fetch_k=20, lam=0.5)
    rows = out.collect()
    assert [r["rank"] for r in rows] == [0, 1, 2, 3]
    picked = [r["vec_id"] for r in rows]
    assert picked[0] == 0  # first pick is pure relevance
    assert 100000 not in picked  # the near-copy of an already-picked doc is displaced
    # deterministic
    assert picked == [r["vec_id"] for r in topk_similar_mmr(corpus, q, k=4, fetch_k=20, lam=0.5).collect()]
    # lam=1 degenerates to plain top-k order
    pure = [r["vec_id"] for r in topk_similar_mmr(corpus, q, k=4, fetch_k=20, lam=1.0).collect()]
    assert pure == plain

    import pytest as _pytest

    with _pytest.raises(ValueError):
        topk_similar_mmr(corpus, q, k=10, fetch_k=5)


def test_topk_grouped_matches_per_group_bruteforce(spark, docs, emb, qvec):
    """Per-group exactness: the grouped operator returns exactly the
    brute-force top-k within every language, ranks 1..k, ordered."""
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar_grouped

    joined = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "lang", "vec_id", "embedding"
    )
    k = 3
    got = topk_similar_grouped(joined, qvec, group_col="lang", k=k).collect()
    by_lang: dict[str, list] = {}
    for r in joined.collect():
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        want = brute_force_topk(rows, qvec, k)
        mine = [r for r in got if r["lang"] == lang]
        assert [r["vec_id"] for r in mine] == [i for i, _ in want]
        assert [r["rank"] for r in mine] == list(range(1, len(want) + 1))
        for r, (_, s) in zip(mine, want):
            assert r["similarity"] == pytest.approx(s, rel=1e-9)
    # output ordering: (group asc, rank asc)
    keys = [(r["lang"], r["rank"]) for r in got]
    assert keys == sorted(keys)


def test_topk_grouped_excludes_null_vectors(spark):
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar_grouped

    rows = [
        ("a", 1, [1.0, 0.0]),
        ("a", 2, [0.9, 0.1]),
        ("a", 3, None),
        ("b", 4, [0.0, 1.0]),
        ("b", 5, None),
    ]
    df = spark.createDataFrame(
        rows, "lang string, vec_id long, embedding array<double>"
    )
    out = topk_similar_grouped(df, [1.0, 0.0], group_col="lang", k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 4]  # nulls never returned
    assert [r["rank"] for r in out] == [1, 2, 1]


def test_topk_grouped_l2_ascending(spark):
    """The distance metric flows through the combiner's ascending mode."""
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar_grouped

    rows = [
        ("a", 1, [0.0, 0.0]),
        ("a", 2, [3.0, 4.0]),
        ("a", 3, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "lang string, vec_id long, embedding array<double>"
    )
    out = topk_similar_grouped(
        df, [0.0, 0.0], group_col="lang", k=2, metric="l2", score_name="l2_dist"
    ).collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    assert out[0]["l2_dist"] == pytest.approx(0.0)
    assert out[1]["l2_dist"] == pytest.approx(1.0)


def test_topk_grouped_plan_shape(spark, sf_dir):
    """Pin the grouped plan: the bounded combiner feeds the per-group
    window, and the null exclusion reaches the parquet scan as a plain
    IsNotNull — never as a pushed-down re-evaluation of the score
    expression (observed regression when filtering on the computed
    similarity column)."""
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar_grouped
    from secure_agent_api_vector_search_spark.sources.tables import (
        load_documents,
        load_embeddings,
    )

    docs = load_documents(spark, sf_dir).select("doc_id", "lang")
    emb = load_embeddings(spark, sf_dir)
    joined = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "lang", "vec_id", "embedding"
    )
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    out = topk_similar_grouped(joined, q, group_col="lang", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert plan.index("Window") < plan.index("MapInPandas")
    # every Filter line stays tiny — a leaked score re-evaluation is a
    # multi-KB unrolled expression
    for line in plan.splitlines():
        if "Filter" in line:
            assert len(line) < 500, line[:200]


def test_topk_pagination_partitions_corpus(spark, emb):
    """Walking pages with the (score, id) cursor reconstructs the full
    ordering with no gaps or repeats, for both metrics."""
    from secure_agent_api_vector_search_spark.operators.topk import (
        topk_similar,
        topk_similar_after,
    )

    qvec = [float(x) for x in emb.filter("vec_id = 3").head()["embedding"]]
    for metric in ("cosine", "l2"):
        full = topk_similar(emb, qvec, k=30, metric=metric).collect()
        page1 = full[:10]
        walked = list(page1)
        for _ in range(2):
            last = walked[-1]
            nxt = topk_similar_after(
                emb, qvec,
                last_score=last["similarity"], last_id=last["vec_id"],
                k=10, metric=metric,
            ).collect()
            walked.extend(nxt)
        assert [(r["vec_id"], r["similarity"]) for r in walked] == [
            (r["vec_id"], r["similarity"]) for r in full
        ], metric


def test_topk_similar_after_scorer_evaluates_once_at_wide_dim(spark):
    """The keyset cursor filters on the scorer's output column; the
    scorer must appear in the executed plan EXACTLY once (the
    nondeterministic marking stops Catalyst cloning it into the
    extracted filter — 2 ArrowEvalPython nodes means the whole-corpus
    scorer runs twice per page)."""
    import numpy as np

    from secure_agent_api_vector_search_spark.operators.topk import topk_similar_after

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(768).astype("float32").tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    page = topk_similar_after(df, rows[0][1], last_score=0.5, last_id=0, k=5)
    assert page.count() == 5
    plan = page._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("ArrowEvalPython") == 1
