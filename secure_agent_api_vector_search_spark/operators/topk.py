"""Exact vector top-k — the reference's flagship query
`find_similar_customer_records` (U1, tools.yaml:13-27).

Reference semantics: embed the query text, compute cosine distance
`<=>` against every stored vector, `ORDER BY distance LIMIT k`, project
(id, title, abstract, similarity). Because of the reference's
index/operator mismatch (SURVEY.md §2.3 V6) this is *exactly* what the
reference executes — a full-scan exact top-k — so exact top-k is the
correctness contract; the IVF path (operators/ivf.py) is the
performance feature.

Spark shape: `orderBy(sim.desc).limit(k)` → Catalyst plans
**TakeOrderedAndProject**: each partition keeps a k-element heap and the
driver merges k·num_partitions candidates — no global sort, no shuffle
of the table. Every entry point here (top-k, keyset page, grouped,
filtered, and the IVF probe that calls :func:`topk_similar`) scores
through ONE function, functions/vector.py::fold_query_scorer: an
Arrow-batched left-fold kernel, bit-exact against the DuckDB oracle at
every dim, holding the edge contract once — null, short, NaN-element
and NULL-element rows score NULL on every metric, zero-norm rows score
NULL under cosine. NULL-scored rows are never returned. Page 1, page 2 and the IVF probe share that function by
construction, so the keyset cursor compares like against like.

The query vector is computed ONCE on the driver and closed over by the
scorer (shipped with the task closure) — the reference re-evaluates
`embedding($1, …)` per row inside the database (tools.yaml:24,26);
doing it once is strictly better with identical semantics (§4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import vector as V


def topk_similar(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_name: str = "similarity",
    extra_cols: Sequence[str] = (),
    null_policy: str = "exclude",
) -> DataFrame:
    """Exact top-k nearest rows to ``query_vec``.

    Deterministic total order: score, then id ascending as tiebreak
    (stable results for the oracle and for pagination).

    Null embeddings are a real state, not an accident — the reference
    inserts rows with NULL vectors and backfills them later
    (sql/03_seed_data.sql:2, sql/04_embeddings.sql:5-6), so a query can
    always race a backfill. The policy is deliberate (SURVEY.md §1.2):
    ``"exclude"`` (default) — a not-yet-embedded document is not a
    candidate: null vectors score null, sort after every real score,
    and are filtered from the k returned rows (see the inline note for
    why this beats a pre-scan filter); ``"fail"`` raises at execution
    on the first null — for pipelines that must not silently search a
    partially-embedded corpus.
    """
    if null_policy not in ("exclude", "fail"):
        raise ValueError(f"null_policy must be 'exclude' or 'fail', got {null_policy!r}")
    vec = F.col(vec_col)
    if null_policy == "fail":
        # raise_error's NullType coerces into the array branch; the
        # scorer consumes `vec`, so the check cannot be pruned away
        vec = F.when(vec.isNotNull(), vec).otherwise(
            F.raise_error(F.lit("topk_similar: null embedding with null_policy='fail'"))
        )
    score = V.fold_query_scorer(query_vec, metric)(vec)
    asc = metric == "l2"
    # "exclude" is implemented WITHOUT a pre-filter on the vec column:
    # when the embeddings are themselves UDF-derived (the embed-then-
    # search shape), Catalyst evaluates a filter on the UDF output as a
    # SEPARATE ArrowEvalPython below the scoring one — the embed UDF
    # runs twice and the plan gains an extra Arrow boundary (measured
    # ~4x on the dim-768 probe). Instead: null vectors score null (the
    # scorer's edge contract), nulls order LAST explicitly, and the
    # k surviving rows are filtered post-limit — identical results, one
    # embed pass, and the filter touches k rows instead of the corpus.
    order = [
        F.col(score_name).asc_nulls_last() if asc else F.col(score_name).desc_nulls_last(),
        F.col(id_col).asc(),
    ]
    out = (
        embeddings.select(id_col, *extra_cols, score.alias(score_name))
        .orderBy(*order)
        .limit(k)
    )
    if null_policy == "exclude":
        out = out.filter(F.col(score_name).isNotNull())
    return out


def join_back_documents(top: DataFrame, documents: DataFrame) -> DataFrame:
    """The shared U1 result projection: broadcast-join a tiny top-k
    frame (vec_id, similarity) back to the document scalars — the ONE
    place the (doc_id, source, lang, text, similarity) contract lives,
    so the paged and unpaged search tools cannot drift apart.

    Join order matters at scale: top-k FIRST (k rows), then a broadcast
    join of those k rows against documents — never a join before the
    limit."""
    return (
        F.broadcast(top)
        .join(documents, top["vec_id"] == documents["doc_id"])
        .select("doc_id", "source", "lang", "text", "similarity")
        .orderBy(F.col("similarity").desc(), F.col("doc_id").asc())
    )


def find_similar_records(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
) -> DataFrame:
    """The full U1 surface: top-k by cosine joined back to the document
    scalars — returns (doc_id, source, lang, text, similarity) like the
    reference's (id, title, abstract, similarity) projection
    (tools.yaml:23-24).
    """
    top = topk_similar(embeddings, query_vec, k=k, metric="cosine")
    return join_back_documents(top, documents)


def topk_similar_mmr(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    fetch_k: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversified top-k via Maximal Marginal Relevance (Carbonell &
    Goldstein 1998): greedily pick the candidate maximizing
    ``lam·sim(q, d) − (1−lam)·max_{s∈selected} sim(d, s)`` — the rerank
    retrieval stacks run so the k results aren't k near-copies of the
    same document.

    Scale shape: the DISTRIBUTED part is the exact top-``fetch_k``
    over-fetch (TakeOrderedAndProject — scan-speed at any corpus size);
    the O(fetch_k²·dim) greedy rerank then runs on the driver over a
    frame that is ≤ fetch_k rows BY CONSTRUCTION (the standard split:
    rerank cost is independent of corpus size). Deterministic: ties
    break to the lower id.

    Output: (id, similarity, mmr_score, rank), rank 0..k-1 in selection
    order.
    """
    import numpy as np

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if fetch_k < k:
        raise ValueError("fetch_k must be >= k")
    cand = topk_similar(
        embeddings, query_vec, k=fetch_k, id_col=id_col, vec_col=vec_col,
        extra_cols=(vec_col,),
    ).collect()
    if not cand:
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} long, similarity double, mmr_score double, rank long"
        )
    ids = np.array([r[id_col] for r in cand])
    sims = np.array([r["similarity"] for r in cand], dtype=np.float64)
    m = np.array([r[vec_col] for r in cand], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        unit = np.where(norms[:, None] > 0, m / norms[:, None], 0.0)
    pair = unit @ unit.T
    selected: list[int] = []
    scores: list[float] = []
    remaining = np.ones(len(ids), dtype=bool)
    for _ in range(min(k, len(ids))):
        if selected:
            penalty = pair[:, selected].max(axis=1)
        else:
            penalty = np.zeros(len(ids))
        mmr = lam * sims - (1.0 - lam) * penalty
        mmr_masked = np.where(remaining, mmr, -np.inf)
        # deterministic: highest score, then lowest id
        best = np.lexsort((ids, -mmr_masked))[0]
        selected.append(int(best))
        scores.append(float(mmr[best]))
        remaining[best] = False
    rows = [
        (int(ids[i]), float(sims[i]), scores[j], j)
        for j, i in enumerate(selected)
    ]
    from secure_agent_api_vector_search_spark.functions.localdf import local_frame

    return local_frame(
        embeddings.sparkSession, rows,
        f"{id_col} long, similarity double, mmr_score double, rank long",
    )


def topk_similar_filtered(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vec: Sequence[float],
    predicate,
    k: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """Filtered vector search: exact top-k among only the documents
    matching a metadata ``predicate`` (Column or SQL string) — the
    pre-filter form (pgvector's classic combined query: `WHERE lang =
    'en' ORDER BY emb <=> q LIMIT k`). The reference's tools expose no
    filter, but any user of a vector store runs this daily.

    Plan shape: the predicate evaluates on the DOCUMENTS scan (pushed
    into parquet where possible — metadata columns, not vectors), the
    surviving ids left-semi-join the embeddings (AQE picks
    broadcast/shuffle by the filtered cardinality), and only matching
    vectors are scored → TakeOrderedAndProject. Pre-filter semantics
    are exact at any selectivity — unlike post-filtering a top-k' |
    k' > k overshoot, there is no recall loss on highly-selective
    predicates.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    ids = documents.filter(pred).select(F.col("doc_id").alias("vec_id"))
    cand = embeddings.join(ids, "vec_id", "left_semi")
    top = topk_similar(cand, query_vec, k=k, metric=metric)
    return (
        F.broadcast(top)
        .join(documents, top["vec_id"] == documents["doc_id"])
        .select("doc_id", "source", "lang", "similarity")
        .orderBy(F.col("similarity").desc(), F.col("doc_id").asc())
    )


def topk_similar_grouped(
    items: DataFrame,
    query_vec: Sequence[float],
    group_col: str,
    k: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_name: str = "similarity",
) -> DataFrame:
    """Grouped vector search: the exact top-``k`` rows nearest to
    ``query_vec`` WITHIN EACH value of ``group_col`` (per-language /
    per-tenant / per-source retrieval — "give me the 3 closest matches
    in every category", the grouped-search feature of vector stores;
    the reference's single-tenant tool is the one-group special case of
    this, tools.yaml:22-27).

    Plan shape: score with the same scorer as :func:`topk_similar`,
    then a partition-local bounded top-k combiner keyed on the GROUP
    (state ≤ |groups|·k rows — knn.py's combiner with the group as the
    query id), then the `row_number() OVER (PARTITION BY group)` window
    for the exact answer. Without the combiner the window exchange
    carries the whole scored corpus; with it, ≤ |groups|·k
    rows per input partition move — `TakeOrderedAndProject` can't help
    here (it is a single global limit), so the combiner IS the grouped
    analogue of its per-partition heap. NULL-scored rows are dropped by
    the combiner (same contract as topk_similar's default).

    Output: (group_col, id_col, score, rank) with rank 1..k per group,
    ordered by (group, rank).
    """
    from pyspark.sql import Window

    from secure_agent_api_vector_search_spark.operators.knn import (
        _local_topk_combiner,
    )

    score = V.fold_query_scorer(query_vec, metric)(F.col(vec_col))
    asc = metric == "l2"
    scored = items.select(
        F.col(group_col),
        F.col(id_col).alias("neighbor_id"),
        score.alias("similarity"),
    )
    # the combiner drops NULL scores, so no NULL-scored row is ranked
    reduced = scored.mapInPandas(
        _local_topk_combiner(group_col, k, ascending=asc), schema=scored.schema
    )
    order = F.col("similarity").asc() if asc else F.col("similarity").desc()
    w = Window.partitionBy(group_col).orderBy(order, F.col("neighbor_id").asc())
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            F.col("neighbor_id").alias(id_col),
            F.col("similarity").alias(score_name),
            "rank",
        )
        .orderBy(group_col, "rank")
    )


def similar_to_doc(
    documents: DataFrame,
    embeddings: DataFrame,
    doc_id: int,
    k: int = 5,
) -> DataFrame:
    """More-like-this: query by a stored document's own vector,
    excluding the document itself."""
    q = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == doc_id).select("embedding").head()[0]
    ]
    top = topk_similar(
        embeddings.filter(F.col("vec_id") != doc_id), q, k=k, metric="cosine"
    )
    return (
        F.broadcast(top)
        .join(documents, top["vec_id"] == documents["doc_id"])
        .select("doc_id", "source", "lang", "similarity")
        .orderBy(F.col("similarity").desc(), F.col("doc_id").asc())
    )


def topk_similar_after(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    last_score: float,
    last_id: int,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_name: str = "similarity",
) -> DataFrame:
    """Keyset-paginated exact top-k: the NEXT page strictly after the
    cursor ``(last_score, last_id)`` in the engine's total order
    (score desc — asc for l2 — then id asc). The natural extension of
    the reference's runtime-parameterized LIMIT (tools.yaml:27): page
    N+1 re-runs the query with page N's last row as the cursor, so
    deep pagination costs one scan + TakeOrderedAndProject per page
    and NO offset-sized sort buffer (OFFSET n at 100 TB materializes
    and discards n rows per page; the keyset predicate is evaluated
    at scan speed and the top-k heap stays k-sized).

    The cursor predicate mirrors the order exactly:
    ``score < last_score OR (score = last_score AND id > last_id)``
    (flipped for ascending metrics), so consecutive pages partition
    the corpus with no gaps or repeats — the float score compared is
    the SAME function both pages computed, bit-stable across runs.
    """
    # the scorer topk_similar used for page 1. Non-deterministic: the
    # cursor filter references the score twice, and a deterministic UDF
    # would be cloned into the filter — the whole-corpus scorer would
    # run twice per page (2 ArrowEvalPython nodes, measured)
    score = V.fold_query_scorer(query_vec, metric).asNondeterministic()(F.col(vec_col))
    asc = metric == "l2"
    s = F.col(score_name)
    if asc:
        cursor = (s > last_score) | ((s == last_score) & (F.col(id_col) > last_id))
        order = [s.asc_nulls_last(), F.col(id_col).asc()]
    else:
        cursor = (s < last_score) | ((s == last_score) & (F.col(id_col) > last_id))
        order = [s.desc_nulls_last(), F.col(id_col).asc()]
    # NULL-scored rows need no post-limit exclude here (unlike
    # topk_similar, which has no pre-filter): a null score makes both
    # cursor disjuncts NULL, so the cursor filter itself drops the row
    return (
        embeddings.select(id_col, score.alias(score_name))
        .filter(cursor)
        .orderBy(*order)
        .limit(k)
    )
