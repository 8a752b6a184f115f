"""Property-based invariants (hypothesis) — SURVEY.md §5.5:
similarity bounds, self-retrieval, limit semantics."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.embedder import embed_text

finite = st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False)
vec = st.lists(finite, min_size=4, max_size=4)


def _cos(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0 or nb == 0:
        return None
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


_SPARK = {}


def _vectors_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vec, min_size=2, max_size=6, unique_by=tuple))
def test_topk_self_retrieval_and_bounds(spark, vecs):
    """Querying with a stored non-zero vector: top-1 is that vector with
    similarity ≈ 1; every similarity ∈ [−1, 1]; limit k returns
    min(k, n_valid) rows."""
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar

    vecs = [v for v in vecs if _cos(v, v) is not None]
    if not vecs:
        return
    df = _vectors_df(spark, vecs)
    rows = topk_similar(df, vecs[0], k=len(vecs)).collect()
    assert len(rows) == len(vecs)
    assert rows[0]["similarity"] >= 1.0 - 1e-9
    for r in rows:
        assert -1.0 - 1e-9 <= r["similarity"] <= 1.0 + 1e-9
    # Spark's cosine must agree with an independent Python oracle
    by_id = {r["vec_id"]: r["similarity"] for r in rows}
    for i, v in enumerate(vecs):
        want = _cos(v, vecs[0])
        assert abs(by_id[i] - want) < 1e-9


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
def test_embedder_properties(text):
    e = embed_text(text)
    assert len(e) == 64
    n = math.sqrt(sum(x * x for x in e))
    assert n == 0.0 or abs(n - 1.0) < 1e-9
    assert embed_text(text) == e  # deterministic


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vec, vec)
def test_l2_distance_symmetry_and_triangle_with_zero(spark, a, b):
    from secure_agent_api_vector_search_spark.functions import vector as V

    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    d_ab, d_ba, n_a, n_b = df.select(
        V.l2_distance("a", "b"), V.l2_distance("b", "a"), V.l2_norm("a"), V.l2_norm("b")
    ).head()
    assert abs(d_ab - d_ba) < 1e-9
    want = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
    assert abs(d_ab - want) < 1e-6 * max(1.0, want)
    assert d_ab <= n_a + n_b + 1e-6  # triangle inequality through 0


@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=20, deadline=None)
def test_pack_bucket_properties(token_counts, max_tokens):
    """Pure-python next-fit packing invariants under random inputs:
    every doc assigned once, budgets respected except singleton
    overflow, positions contiguous."""
    import pandas as pd

    from secure_agent_api_vector_search_spark.operators.packing import _pack_bucket

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(token_counts)),
            "n_tokens": token_counts,
            "bucket": 0,
        }
    )
    out = _pack_bucket(pdf, max_tokens)
    assert sorted(out["doc_id"]) == list(range(len(token_counts)))
    g = out.groupby("seq_id")
    for seq_id, grp in g:
        total = grp["n_tokens"].sum()
        assert total <= max_tokens or len(grp) == 1
        assert sorted(grp["pos_in_seq"]) == list(range(len(grp)))


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from(
            ["alpha beta gamma delta", "epsilon zeta eta theta",
             "ALPHA beta GAMMA delta!!", "one two three four five"])),
        min_size=1, max_size=8, unique_by=lambda t: t[0],
    )
)
def test_dedup_incremental_with_empty_seen_is_plain_keep_min(spark, rows):
    """Property: against an EMPTY corpus, incremental dedup degenerates
    to plain normalized keep-min-id dedup of the batch."""
    from secure_agent_api_vector_search_spark.functions import text as X
    from secure_agent_api_vector_search_spark.operators.dedup import dedup_incremental
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(rows, "doc_id long, text string")
    seen = spark.createDataFrame([], "doc_id long, text string")
    got = sorted(r["doc_id"] for r in dedup_incremental(batch, seen).collect())
    groups: dict[str, int] = {}
    for doc_id, text in rows:
        key = " ".join("".join(c for c in text.lower() if c.isalnum() or c == " ").split())
        groups[key] = min(groups.get(key, doc_id), doc_id)
    assert got == sorted(groups.values())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 10**9), min_size=1, max_size=40, unique=True),
    st.integers(2, 6),
)
def test_epoch_shuffle_partitions_ids_with_dense_positions(spark, ids, n_shards):
    """Property: every id appears exactly once, shards are in range,
    and positions are dense 1..|shard| within each shard — for ANY id
    set and shard count."""
    from secure_agent_api_vector_search_spark.operators.curation import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = epoch_shuffle(df, n_shards=n_shards).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(ids)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r["shard"] < n_shards
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


_word = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
_doc = st.lists(_word, min_size=1, max_size=30).map(" ".join)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc, min_size=2, max_size=8))
def test_duplicated_spans_structural_invariants(spark, texts):
    """For ANY corpus: spans lie inside their document, are pairwise
    disjoint and non-adjacent per doc (maximal merge), each covers at
    least k tokens, and stats arithmetic closes against the spans."""
    from secure_agent_api_vector_search_spark.operators import substr as S

    k = 3
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    n_tok = {i: len(" ".join(t.split()).split(" ")) for i, t in enumerate(texts)}
    spans = S.duplicated_spans(df, k=k).collect()
    per_doc: dict[int, list] = {}
    for r in spans:
        assert 0 <= r.span_start <= r.span_end < n_tok[r.doc_id]
        assert r.span_tokens == r.span_end - r.span_start + 1 >= k
        assert r.n_grams >= 1
        per_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for sp in per_doc.values():
        sp.sort()
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert s2 > e1 + 1  # disjoint AND non-adjacent (else merged)
    stats = {r.doc_id: r for r in S.exact_substring_stats(df, k=k).collect()}
    for i in range(len(texts)):
        got = stats[i]
        mine = per_doc.get(i, [])
        assert got.n_spans == len(mine)
        assert got.dup_tokens == sum(e - s + 1 for s, e in mine)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from(["sa", "sb", "sc"]), min_size=1, max_size=40),
    st.floats(min_value=0.0, max_value=3.0).map(lambda x: round(x, 2)),
)
def test_mixture_upsample_mass_identity(spark, sources, w):
    """floor(w) <= copies per row <= ceil(w); every row of other
    sources appears exactly once; output is rerun-identical."""
    import math as _m

    from secure_agent_api_vector_search_spark.operators.curation import (
        mixture_upsample,
    )

    df = spark.createDataFrame(
        [(i, "t", s) for i, s in enumerate(sources)], ["doc_id", "text", "source"]
    )
    out = mixture_upsample(df, {"sa": w}, default=1.0).collect()
    per_doc: dict[int, int] = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    w_bp = int(round(w * 10000))
    lo, hi = w_bp // 10000, -(-w_bp // 10000)
    for i, s in enumerate(sources):
        n = per_doc.get(i, 0)
        if s == "sa":
            assert lo <= n <= hi
        else:
            assert n == 1
    again = mixture_upsample(df, {"sa": w}, default=1.0).collect()
    assert sorted((r.doc_id, r.copy) for r in again) == sorted(
        (r.doc_id, r.copy) for r in out
    )


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc, min_size=1, max_size=8), st.integers(min_value=1, max_value=10))
def test_tokenize_to_ids_roundtrip_in_vocab(spark, texts, size):
    """ids decode back to the original normalized tokens wherever the
    token is in-vocab; OOV ids are exactly the out-of-vocab positions;
    every id is within [0, |vocab|]."""
    from secure_agent_api_vector_search_spark.operators.textops import (
        build_vocab,
        tokenize_to_ids,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    vocab = {r.tok: r.tok_id for r in build_vocab(df, size=size).collect()}
    inv = {v: k for k, v in vocab.items()}
    out = {r.doc_id: r for r in tokenize_to_ids(df, build_vocab(df, size=size)).collect()}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        r = out[i]
        assert r.n_tokens == len(toks)
        assert len(r.ids) == len(toks)
        for tok, tid in zip(toks, r.ids):
            assert 0 <= tid <= len(vocab)
            if tok in vocab:
                assert tid == vocab[tok] and inv[tid] == tok
            else:
                assert tid == 0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=3),
    st.sampled_from([0.01, 0.05, 0.2]),
    st.integers(min_value=1, max_value=9),
)
def test_heavy_hitters_equal_bruteforce_on_any_corpus(
    spark, texts, n, threshold, parts
):
    """The pigeonhole candidate guarantee, property-tested: for ANY
    corpus, gram width, threshold, and partitioning, the sketch+verify
    output equals the plain groupBy-HAVING ground truth exactly."""
    import math

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators.textops import (
        heavy_hitter_ngrams,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(parts)
    got = sorted(
        (r["gram"], r["cnt"])
        for r in heavy_hitter_ngrams(df, n=n, threshold=threshold).collect()
    )
    # independent brute force in plain Python
    from collections import Counter

    grams = Counter()
    for t in texts:
        ws = [w for w in t.strip().split(" ") if w] if t.strip() else []
        ws = " ".join(ws).split(" ") if ws else []
        for i in range(len(ws) - n + 1):
            grams[" ".join(ws[i : i + n])] += 1
    total = sum(grams.values())
    want = (
        sorted((g, c) for g, c in grams.items()
               if c >= math.ceil(threshold * total))
        if total
        else []
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de", None]),
            st.lists(st.sampled_from("the cat and dog ran fast".split()),
                     min_size=1, max_size=30).map(" ".join),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0.0, 0.2, 0.5, 0.9, 1.0]),
)
def test_percentile_cut_equals_window_form_on_any_corpus(spark, rows, pct):
    """The band-refinement cut's keep-set must equal percent_rank's on
    any corpus (ties, tiny groups, NULL groups, boundary pcts)."""
    from secure_agent_api_vector_search_spark.operators.curation import (
        quality_percentile_cut,
        quality_percentile_filter,
    )

    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(rows)],
        "doc_id long, lang string, text string",
    )
    want = sorted(
        r["doc_id"] for r in quality_percentile_filter(df, min_pct=pct).collect()
    )
    got = sorted(
        r["doc_id"] for r in quality_percentile_cut(df, min_pct=pct).collect()
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from(["alpha beta", "gamma delta", "epsilon zeta",
                              "eta theta iota", "kappa", "lambda mu nu"]),
             min_size=1, max_size=25),
    st.lists(st.sampled_from(["alpha beta", "XI omicron pi", "rho sigma!",
                              "gamma delta", "tau upsilon"]),
             min_size=1, max_size=25),
)
def test_bloom_incremental_equals_base_on_any_overlap(spark, seen_texts, batch_texts):
    """The Bloom pre-filter is a plan optimization: for any seen/batch
    mix (any overlap rate, duplicate texts, normalization collisions)
    the surviving id set must equal dedup_incremental's."""
    from secure_agent_api_vector_search_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_bloom,
    )

    seen = spark.createDataFrame(
        [(i, t) for i, t in enumerate(seen_texts)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(batch_texts)],
        "doc_id long, text string",
    )
    want = sorted(r["doc_id"] for r in dedup_incremental(batch, seen).collect())
    got = sorted(r["doc_id"] for r in dedup_incremental_bloom(batch, seen).collect())
    assert got == want


def test_lsh_family_recall_and_budget_property():
    """Adaptive banding guarantee, swept across the whole accepted
    threshold range: the chosen (r, b) always reaches >=0.99 per-pair
    recall AT the threshold within the 256-hash budget; below the
    representable floor it refuses instead of under-reporting."""
    import pytest as _pytest

    from secure_agent_api_vector_search_spark.operators.curation import (
        _lsh_family_for,
    )

    for i in range(19, 101):  # thresholds 0.19 .. 1.00
        t = i / 100.0
        r, b = _lsh_family_for(t)
        recall = 1.0 - (1.0 - t**r) ** b
        assert recall >= 0.99, (t, r, b, recall)
        assert r * b <= 256, (t, r, b)
        assert r >= 2 or t == 1.0
    with _pytest.raises(ValueError):
        _lsh_family_for(0.05)  # would need >256 hashes — must refuse


# ---------------------------------------------------------------------------
# the vector edge contract (functions/vector.py::fold_query_scorer) on every
# exact top-k entry point, at dims on both sides of the unroll limit
# ---------------------------------------------------------------------------

_ROW_KINDS = ("real", "real", "real", "dup", "null", "short", "zero", "nan",
              "elemnull", "long")


def _contract_score(v, q, metric):
    """Pure-Python model of the scorer: the same left folds, NULL
    wherever the score is not a number (null / short rows, NaN or NULL
    elements, zero-norm cosine)."""
    dim = len(q)
    if v is None or len(v) < dim or any(x is None for x in v[:dim]):
        return None
    d = na = qq = 0.0
    for x, y in zip(v[:dim], q):
        d = d + x * y
        na = na + x * x
        qq = qq + y * y
    if metric == "dot":
        s = d
    elif metric == "cosine":
        den = math.sqrt(na) * math.sqrt(qq)
        s = math.nan if den == 0.0 else d / den
    else:
        sq = (na - 2.0 * d) + qq
        s = sq if math.isnan(sq) else math.sqrt(max(sq, 0.0))
    return None if math.isnan(s) else s


def _spark_order(rows, asc):
    """(id, score) rows with non-NULL scores in the engine's total
    order: score (desc, or asc for l2), then id."""
    return sorted(
        (r for r in rows if r[1] is not None),
        key=lambda r: (r[1] if asc else -r[1], r[0]),
    )


def _same(got, want):
    import struct

    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[:-1] == w[:-1], (got, want)
        assert struct.pack("<d", g[-1]) == struct.pack("<d", w[-1]), (got, want)


def _contract_corpus(kinds, dim, seed):
    import random

    rnd = random.Random(seed)
    reals: list[list[float]] = []
    rows = []
    for i, kind in enumerate(kinds):
        if kind == "dup" and reals:
            v = list(rnd.choice(reals))
        elif kind == "null":
            v = None
        elif kind == "short":
            v = [rnd.uniform(-1, 1) for _ in range(dim - 1)]
        elif kind == "zero":
            v = [0.0] * dim
        elif kind == "nan":
            v = [rnd.uniform(-1, 1) for _ in range(dim)]
            v[rnd.randrange(dim)] = float("nan")
        elif kind == "elemnull":
            v = [rnd.uniform(-1, 1) for _ in range(dim)]
            v[rnd.randrange(dim)] = None
        elif kind == "long":
            v = [rnd.uniform(-1, 1) for _ in range(dim + 3)]
        else:
            v = [rnd.uniform(-1, 1) for _ in range(dim)]
            reals.append(v)
        rows.append((i, i % 2, v))
    q = [rnd.uniform(-1, 1) for _ in range(dim)]
    return rows, q


@pytest.mark.parametrize("dim", [8, 64, 300])
@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    kinds=st.lists(st.sampled_from(_ROW_KINDS), min_size=4, max_size=14),
    k=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_every_exact_topk_entry_point_holds_the_vector_contract(
    spark, metric, dim, kinds, k, seed
):
    """topk_similar, its keyset page, the grouped search and the IVF
    probe at full probe all return exactly the rows the contract model
    ranks — scores bit-equal, never a row the model scores NULL — with
    null, short, NULL-element, zero-norm, NaN, overlong and duplicate
    rows mixed in."""
    from secure_agent_api_vector_search_spark.operators.ivf import IvfIndex, ivf_search
    from secure_agent_api_vector_search_spark.operators.topk import (
        topk_similar,
        topk_similar_after,
        topk_similar_grouped,
    )

    rows, q = _contract_corpus(kinds, dim, seed)
    df = spark.createDataFrame(rows, "vec_id long, grp int, embedding array<double>")
    asc = metric == "l2"
    name = "l2_dist" if asc else "similarity"
    want = _spark_order([(i, _contract_score(v, q, metric)) for i, _, v in rows], asc)

    def pairs(frame):
        return [(r["vec_id"], r[name]) for r in frame.collect()]

    page1 = pairs(topk_similar(df, q, k=k, metric=metric, score_name=name))
    _same(page1, want[:k])
    if page1:
        last_id, last_score = page1[-1]
        page2 = pairs(topk_similar_after(
            df, q, last_score=last_score, last_id=last_id, k=k, metric=metric,
            score_name=name,
        ))
        _same(page1 + page2, want[:2 * k])  # no gaps, no repeats

    grouped = topk_similar_grouped(
        df, q, group_col="grp", k=k, metric=metric, score_name=name
    ).collect()
    want_grouped = []
    for g in (0, 1):
        members = {i for i, grp, _ in rows if grp == g}
        ranked = [r for r in want if r[0] in members][:k]
        want_grouped += [(g, i, rank, s) for rank, (i, s) in enumerate(ranked, 1)]
    _same([(r["grp"], r["vec_id"], r["rank"], r[name]) for r in grouped], want_grouped)

    index = IvfIndex(
        df.withColumn("list_id", (F.col("vec_id") % 3).cast("int")),
        [[float(c)] * dim for c in range(3)],
    )
    _same(pairs(
        ivf_search(index, q, k=k, nprobe=3, metric=metric).withColumnRenamed(
            "similarity", name)
    ), want[:k])


def test_topk_l2_null_embedding_is_not_a_hit(spark):
    """GREATEST skips NULL, so an unguarded l2 scored a NULL embedding
    sqrt(0.0) = 0.0 — a perfect match that displaced a real neighbour."""
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 3.0, 4.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    got = [(r["vec_id"], r["similarity"]) for r in
           topk_similar(df, [1.0, 0.0, 0.0], k=2, metric="l2").collect()]
    assert got == [(1, 0.0), (2, math.sqrt(26.0))]
