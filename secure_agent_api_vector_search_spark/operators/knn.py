"""Batch kNN join and kNN classification.

[EXT] similarity-join operators (SURVEY.md §2.5b, §2.10): the reference
answers one query vector at a time (tools.yaml:22-27); a pipeline needs
"for EACH query row, its k nearest corpus rows".

Spark shape: broadcast the (small) query set against the corpus —
a broadcast nested-loop with a codegen'd similarity expression — then a
partition-local bounded top-k combiner, then
`row_number() OVER (PARTITION BY query ORDER BY score)` for the exact
global answer. The corpus is never shuffled; the combiner caps the
row_number exchange at |Q|·k rows per input partition instead of the
full |Q|·|corpus| scored stream. For |Q| too large to broadcast, the
scale path is the IVF route (operators/ivf.py): assign each query to
nprobe lists and shuffle-join on list_id, which turns the cross product
into a partition-pruned join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import vector as V


def _local_topk_combiner(q_id: str, k: int, ascending: bool = False):
    """mapInPandas partition combiner: keep the ≤k best
    (similarity desc — or asc for distance metrics — neighbor_id asc)
    rows per q_id seen so far.

    Spark has no bounded top-k aggregate — a collect_list+slice groupBy
    caps the OUTPUT but its partial buffers still carry every row across
    the exchange — so the pre-exchange reduction has to be imperative.
    State is bounded at |Q|·k rows plus one Arrow batch.

    Null/NaN scores (an element-null array survives the vector-level
    IsNotNull scan filter and scores NULL → NaN in Arrow) are dropped
    HERE, not ranked: pandas would sort NaN wherever na_position says
    while the Spark window it feeds puts NULL the other way, so a kept
    NaN could evict a genuine candidate the window then never sees.
    Un-rankable rows can never be a top-k answer, and every scored row
    passes through this combiner, so dropping them here means the
    downstream window only ever sees rankable rows.
    """

    def f(it):
        acc: pd.DataFrame | None = None
        for pdf in it:
            pdf = pdf.dropna(subset=["similarity"])
            if not len(pdf):
                continue
            cand = pdf if acc is None else pd.concat((acc, pdf), ignore_index=True)
            cand = cand.sort_values(
                [q_id, "similarity", "neighbor_id"],
                ascending=[True, ascending, True],
                kind="mergesort",
            )
            acc = cand.groupby(q_id, sort=False).head(k)
        if acc is not None and len(acc):
            yield acc

    return f


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exclude_self: bool = False,
    dim: int | None = None,
    match_col: str | None = None,
) -> DataFrame:
    """For each query row, the k most-cosine-similar corpus rows.

    ``match_col``: restrict each query's neighbors to corpus rows with
    an EQUAL value in this column (both frames must carry it) — the
    group-matched form a pipeline needs for "nearest neighbors within
    the same language / tenant / shard". The cross product becomes a
    broadcast hash equi-join, so candidates drop from |Q|·|corpus| to
    |Q|·|group| with zero extra shuffle.

    Output: (q_id, neighbor_id, similarity, rank), rank 1..k,
    deterministic tiebreak on neighbor id; ROW ORDER is unspecified
    (the rank column carries the ordering — a final global orderBy
    would add a range-partitioner sampling job plus an exchange purely
    for presentation, measured at ~40% of this operator's warm wall
    time; consumers that want display order sort the tiny result
    themselves). ``exclude_self`` drops the
    corpus row whose id equals the query id (for more-like-this /
    leave-one-out evaluation). Pass ``dim`` when the embedding width is
    statically known so the similarity runs as the unrolled codegen sum
    (functions/vector.py) instead of the interpreted HOF fold.

    The global row_number window is exact; the per-partition combiner
    before it only discards rows that can never reach rank ≤ k (each
    query's global top-k is contained in the union of its per-partition
    top-k), cutting the exchange from |Q|·|corpus| scored rows to at
    most |Q|·k per partition.
    """
    # not-yet-embedded corpus rows are not candidates (same exclude
    # policy as topk_similar): without this scan-level filter a null
    # vector scores null → NaN in the combiner, which sorts FIRST under
    # DESC and can evict a genuine candidate, while the downstream
    # window (desc = NULLS LAST) would rank the null row behind — the
    # combiner must never disagree with the window it feeds
    base = corpus.filter(F.col(c_vec).isNotNull())
    if match_col is None:
        joined = base.crossJoin(F.broadcast(queries))
    else:
        joined = base.join(F.broadcast(queries), match_col)
    if exclude_self:
        joined = joined.filter(F.col(c_id) != F.col(q_id))
    # bare names (unique after the cross join) keep the unrolled
    # expression's one-SQL-string construction
    sim = V.cosine_similarity(c_vec, q_vec, dim)
    scored = joined.select(
        F.col(q_id), F.col(c_id).alias("neighbor_id"), sim.alias("similarity")
    )
    reduced = scored.mapInPandas(_local_topk_combiner(q_id, k), schema=scored.schema)
    w = Window.partitionBy(q_id).orderBy(F.col("similarity").desc(), F.col("neighbor_id").asc())
    return reduced.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    label_col: str = "label",
    **kw,
) -> DataFrame:
    """Majority-vote label of the k nearest neighbors (leave-one-out:
    the query row itself is excluded when ids collide). Tiebreak: most
    votes, then smaller label. Output: (q_id, predicted_label, votes)."""
    q_id = kw.get("q_id", "q_id")
    c_id = kw.get("c_id", "vec_id")
    neighbors = knn_join(queries, corpus, k=k, exclude_self=True, **kw)
    labeled = neighbors.join(
        corpus.select(F.col(c_id).alias("neighbor_id"), F.col(label_col).alias("nb_label")),
        "neighbor_id",
    )
    votes = labeled.groupBy(q_id, "nb_label").agg(F.count("*").alias("votes"))
    w = Window.partitionBy(q_id).orderBy(F.col("votes").desc(), F.col("nb_label").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(q_id), F.col("nb_label").alias("predicted_label"), "votes")
    )


def knn_join_ivf(
    index,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Batch kNN routed through an IVF index (operators/ivf.py) — the
    scale path when |Q| is too large to broadcast AND the corpus too
    large to scan per query.

    Each query is assigned to its ``nprobe`` nearest lists by a pure
    map over the centroid table (ivf._nearest_lists_udf — one BLAS
    distance block per Arrow batch, the same ranker `assign_lists`
    uses, extended to top-nprobe with a stable argsort so ties break
    on list_id). The cross product then becomes a `list_id` equi-join:
    candidates
    drop from |Q|·|corpus| to ~nprobe/lists of it, and both sides
    shuffle-partition on list_id — with the corpus stored
    `partitionBy(list_id)` (write_ivf) the corpus side is
    partition-pruned at the scan. A corpus row lives in exactly one
    list, so no pair is generated twice.

    Recall follows IVF semantics (a neighbor in an unprobed list is
    missed); verified against the exact `knn_join` in tests.
    Output: (q_id, neighbor_id, similarity, rank), rank 1..k; row
    order unspecified (same presentation-sort rationale as knn_join).

    ``index``: an `ivf.IvfIndex` (duck-typed to avoid a circular
    import; only `.assigned`, `.centroids`, `.id_col`, `.vec_col` are
    used).
    """
    from secure_agent_api_vector_search_spark.operators.ivf import _nearest_lists_udf

    qcast = queries.select(F.col(q_id), F.col(q_vec).cast("array<double>").alias(q_vec))
    probes = _nearest_lists_udf(index.centroids, nprobe)(F.col(q_vec))
    routed = qcast.select(
        F.col(q_id), F.col(q_vec), F.explode(probes).alias("list_id")
    )
    joined = routed.join(index.assigned, "list_id")
    sim = V.cosine_similarity(F.col(index.vec_col).cast("array<double>"), F.col(q_vec))
    scored = joined.select(
        F.col(q_id), F.col(index.id_col).alias("neighbor_id"), sim.alias("similarity")
    )
    # same bounded pre-exchange combiner as knn_join: the probed
    # candidate stream (|Q|·nprobe·list_size rows, partitioned by
    # list_id) reduces to ≤ |Q|·k per partition before the window
    reduced = scored.mapInPandas(_local_topk_combiner(q_id, k), schema=scored.schema)
    w = Window.partitionBy(q_id).orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return reduced.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_recall_sweep(
    index,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4, 8, 16),
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """The IVF tuning instrument: recall@k of the probed path vs the
    exact path, per nprobe.

    IVF's one free parameter trades recall for probe cost; at 100 TB
    nobody should pick it by feel. Ground truth is ONE exact
    `knn_join` pass (local-checkpointed); each candidate nprobe re-ranks through
    `knn_join_ivf` and the per-query hit fraction aggregates to a
    corpus-level recall@k. The sweep loop is driver-side over ≤ a
    handful of nprobe values — each iteration is a full distributed
    job, nothing is collected but the one-row-per-nprobe summary.

    Output: (nprobe, recall_at_k, n_queries), ordered by nprobe.
    """
    truth = knn_join(queries, corpus, k=k, q_id=q_id, q_vec=q_vec,
                     c_id=c_id, c_vec=c_vec).select(
        F.col(q_id), F.col("neighbor_id")).localCheckpoint()
    n_truth = truth.count()  # = n_queries * k'
    # loop-invariant: one distributed distinct, not one per nprobe
    n_queries = int(truth.select(q_id).distinct().count())
    frames = []
    for np_ in nprobes:
        got = knn_join_ivf(index, queries, k=k, nprobe=np_,
                           q_id=q_id, q_vec=q_vec).select(
            F.col(q_id), F.col("neighbor_id"))
        hit = truth.join(got, [q_id, "neighbor_id"]).count()
        frames.append((int(np_), float(hit) / float(n_truth), n_queries))
    spark = queries.sparkSession
    from secure_agent_api_vector_search_spark.functions.localdf import local_frame

    return local_frame(
        spark, frames, "nprobe int, recall_at_k double, n_queries long"
    ).orderBy("nprobe")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    q_group: str = "q_group",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    group_col: str = "group",
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each query, the ``k`` most-similar corpus rows from a DIFFERENT
    group — same-group rows are presumed positives (same source /
    document family / near-dup cluster) and excluded, so what remains
    is exactly the high-similarity-but-wrong set a dual-encoder needs
    as negatives (the in-batch-negatives upgrade of DPR, Karpukhin et
    al. 2020, arXiv:2004.04906 §3.2).

    Same physical shape as :func:`knn_join` (broadcast query set,
    scan-speed scoring, per-partition bounded top-k combiner before
    one exact row_number window) with the group INEQUALITY applied at
    the scored stream — candidates shrink, never grow, so every scale
    argument of knn_join carries over. The combiner's candidate-
    containment argument is unaffected: the filter is a per-row
    predicate evaluated identically everywhere.

    Output: (q_id, neighbor_id, similarity, rank), rank 1..k over the
    out-of-group corpus, deterministic tiebreak on neighbor id, row
    order unspecified (the rank column carries the ordering).
    """
    base = corpus.filter(F.col(c_vec).isNotNull())
    joined = base.crossJoin(F.broadcast(queries)).filter(
        (F.col(group_col) != F.col(q_group)) & (F.col(c_id) != F.col(q_id))
    )
    sim = V.cosine_similarity(c_vec, q_vec, dim)
    scored = joined.select(
        F.col(q_id), F.col(c_id).alias("neighbor_id"), sim.alias("similarity")
    )
    reduced = scored.mapInPandas(_local_topk_combiner(q_id, k), schema=scored.schema)
    w = Window.partitionBy(q_id).orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return reduced.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
