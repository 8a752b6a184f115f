"""Hybrid keyword + vector search ([EXT], SURVEY.md §2.10).

Fuses a lexical score (term occurrence count over the text) with the
cosine similarity of the document embedding to the query vector.
One broadcast-free equi-join documents↔embeddings on the id, the
keyword score as a native expression and the cosine through the one
query scorer (functions/vector.py::fold_query_scorer), then a
TakeOrderedAndProject top-k — the same scan-bounded shape as the pure
vector path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import vector as V


def keyword_hits(text_col, term: str):
    """Occurrences of ``term`` in the text — (len(text) − len(text with
    term removed)) / len(term); exact integer, mirrored in the oracle."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return (F.length(t) - F.length(F.replace(t, F.lit(term), F.lit("")))) / F.lit(len(term))


def hybrid_search(
    documents: DataFrame,
    embeddings: DataFrame,
    term: str,
    query_vec: Sequence[float],
    k: int = 10,
    kw_weight: float = 0.1,
) -> DataFrame:
    """Top-k by fused score = kw_weight · keyword_hits + cosine.

    Output: (doc_id, kw_hits, similarity, score).
    """
    joined = documents.join(embeddings, documents["doc_id"] == embeddings["vec_id"])
    sim = V.fold_query_scorer(query_vec, "cosine")(F.col("embedding"))
    scored = joined.select(
        "doc_id",
        keyword_hits("text", term).cast("long").alias("kw_hits"),
        sim.alias("similarity"),
    ).withColumn(
        "score", F.col("kw_hits").cast("double") * F.lit(float(kw_weight)) + F.col("similarity")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def bm25_search(
    documents: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-ranked keyword search over lowercased whitespace tokens.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    with idf(t) = ln( (N − df + 0.5) / (df + 0.5) + 1 )   (the
    Robertson–Spärck Jones form used by Lucene).

    Plan shape: one scan computes per-doc (length, tf per query term)
    as native array expressions — the query's terms are a literal, so
    there is no explode/join over the corpus vocabulary; the only
    aggregate is the tiny global (N, avgdl, df per term) which AQE
    broadcasts back. Scores round to 9 dp (ln low bits may differ
    across engines); ranking uses the rounded score.
    Output: (doc_id, score) top-k, deterministic tiebreak on id.
    """
    terms = [t.lower() for t in query_terms]
    toks = F.transform(F.split(F.col(text_col), " "), lambda t: F.lower(t))
    dl = F.size(toks).cast("double")

    tf_cols = [
        F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("double").alias(f"_tf_{i}")
        for i, term in enumerate(terms)
    ]
    per_doc = documents.select(F.col(id_col), dl.alias("_dl"), *tf_cols)

    stats = per_doc.agg(
        F.count("*").cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0)).cast("double").alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.log(
            (F.col("_n") - F.col(f"_df_{i}") + 0.5) / (F.col(f"_df_{i}") + 0.5) + 1.0
        )
        tf = F.col(f"_tf_{i}")
        denom = tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return (
        scored.select(F.col(id_col), F.round(score, 9).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_search(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: Sequence[str],
    query_vec,
    k: int = 10,
    depth: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion of a BM25 list and an exact vector top-k
    list: score(d) = Σ_lists 1/(rrf_k + rank_list(d)).

    ``id_col`` names the document key on the BM25/documents side AND in
    the fused output; ``vec_id_col`` names the embeddings frame's key
    (the two frames share an id space but not necessarily a column
    name — the testdata keys documents on doc_id and embeddings on
    vec_id).

    RRF is the standard hybrid recipe (Cormack et al. 2009; what
    pgvector's hybrid-search guidance and most engines ship) because it
    needs NO score calibration — ranks are scale-free, so a BM25 log
    score and a [-1,1] cosine fuse without tuned weights (the weighted
    alternative is :func:`hybrid_search`).

    Plan shape: each branch is the already-bounded top-``depth`` query
    (BM25 scan + tiny stats broadcast; TakeOrderedAndProject vector
    scan); the single-partition rank windows and the full-outer fusion
    join run over ≤ depth rows each — driver-scale by construction,
    whatever the corpus size. Ranks are ints on both engines and
    1/(rrf_k+rank) is exact IEEE division of small ints, so the fused
    ordering is engine-independent (oracle-checked end to end).

    Output: (doc_id, r_kw, r_vec, rrf_score) top-k by fused score;
    rank columns stay null when a document appears in only one list.
    """
    from secure_agent_api_vector_search_spark.operators.topk import topk_similar

    bm = bm25_search(documents, query_terms, k=depth, id_col=id_col)
    vec = topk_similar(embeddings, query_vec, k=depth, id_col=vec_id_col).select(
        F.col(vec_id_col).alias(id_col), F.round("similarity", 9).alias("similarity")
    )
    wb = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    wv = Window.orderBy(F.col("similarity").desc(), F.col(id_col).asc())
    b = bm.withColumn("r_kw", F.row_number().over(wb)).select(id_col, "r_kw")
    v = vec.withColumn("r_vec", F.row_number().over(wv)).select(id_col, "r_vec")
    fused = b.join(v, id_col, "full_outer").select(
        id_col,
        "r_kw",
        "r_vec",
        F.round(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_kw")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("r_vec")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()).limit(k)
