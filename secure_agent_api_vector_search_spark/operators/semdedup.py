"""Semantic deduplication — SemDeDup-style embedding dedup ([EXT],
SURVEY.md §2.10).

Strategy (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): k-means the embedding
space, then search for near-duplicate pairs ONLY within each cluster —
the cluster bound turns an O(n²) all-pairs cosine screen into
k × O((n/k)²) independent per-cluster screens, and at the √n list
sizing the expected cluster is √n rows, small enough for one in-memory
numpy block.

Spark shape: centroid fit is the shared bounded-sample driver k-means
(operators/ivf.py::_fit_centroids — same coarse quantizer as the IVF
index, functions/kmeans.py); assignment is the shuffle-free whole-batch
BLAS map (ivf.assign_lists); the per-cluster screen is ONE
applyInPandas over the cluster key — a single shuffle keyed by
cluster_id, each group scored as vectorized numpy. No all-pairs join
exists anywhere in the plan, so the operator survives a 100× scale-up
by raising k (clusters shrink as k grows; cost is n²/k total work
spread over k independent tasks).

Skew hardening (``max_cluster_size`` — the 100 TB seam): web-scale
embedding spaces have dominant modes, and one hot cluster holding 5%
of the corpus would arrive as ONE applyInPandas group and OOM that
task. When any cluster exceeds the cap (one count aggregate over the
checkpointed assignment checks; an unskewed corpus pays nothing
else), two bounded repairs run, mirroring ivf.rebuild_if_skewed /
dedup.lsh_planes_for adaptive sizing:

1. **Exact-vector collapse inside hot clusters.** Rows of an oversized
   cluster are grouped on a 128-bit md5 vector fingerprint; only the
   min-id representative of each identity group is screened, members
   inherit its outcome by an id-only join. This is provably equivalent
   to the full greedy screen: a dropped row never affects the kept
   set, and an identical twin of row r matches exactly the kept rows r
   matches, so its first kept witness is r itself (if r is kept) or
   r's witness (if r was dropped). Crawl duplicate storms — the
   dominant real-world hot-mode cause — flatten to one row here.
2. **Recursive sub-cluster split.** Each still-oversized cluster gets
   a bounded-sample k-means fit (``_fit_centroids`` — driver memory is
   capped regardless of cluster width) targeting ~cap/2-row cells, and
   one whole-batch numpy argmin reassignment map over only the
   oversized rows; repeated up to ``split_rounds`` times. Screen task
   memory is thereby bounded at cap·dim, independent of corpus skew.

Splitting adds sub-cluster boundaries, so a near-dup pair straddling a
new boundary survives — the same inherent approximation SemDeDup
already accepts at cluster boundaries (paper §3); planted-duplicate
recall under the cap is pinned in tests/test_semdedup.py.

Known approximation (inherent to SemDeDup, documented in the paper):
near-duplicate pairs that straddle a cluster boundary are not
compared and both survive. The planted-duplicate tests pin the
recall that matters (exact and near-exact duplicates land in the
same cluster because assignment is deterministic in the vector).

Non-goal here: the reference has no dedup at all (its corpus is 50
seeded rows, sql/03_seed_data.sql) — this is north-star §2.10 surface.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.operators.ivf import (
    _fit_centroids,
    assign_lists,
)

_OUT_SCHEMA = (
    "{id} long, cluster_id int, keep boolean, dup_of long"
)


def _screen_cluster(pdf: pd.DataFrame, threshold: float, id_col: str) -> pd.DataFrame:
    """Greedy keep-first screen over one cluster, in id order: a row is
    kept iff its cosine similarity to every already-kept row is below
    ``threshold``; dropped rows record their first witness in
    ``dup_of``. Deterministic: id sort + greedy order ⇒ the kept set is
    unique regardless of partitioning."""
    pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
    vecs = pdf["_vec"].to_numpy()
    n = len(pdf)
    keep = np.ones(n, dtype=bool)
    dup_of = np.full(n, None, dtype=object)
    null_mask = np.fromiter((v is None for v in vecs), dtype=bool, count=n)
    idx = np.flatnonzero(~null_mask)
    if len(idx) > 1:
        m = np.stack(vecs[idx]).astype(np.float64, copy=False)
        norms = np.linalg.norm(m, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = np.where(norms[:, None] > 0, m / norms[:, None], 0.0)
        kept_rows: list[int] = [0]
        for j in range(1, len(idx)):
            sims = unit[kept_rows] @ unit[j]
            hits = np.flatnonzero(sims >= threshold)
            if len(hits):
                keep[idx[j]] = False
                dup_of[idx[j]] = int(pdf[id_col].iloc[idx[kept_rows[int(hits[0])]]])
            else:
                kept_rows.append(j)
    return pd.DataFrame(
        {
            id_col: pdf[id_col],
            "cluster_id": pdf["cluster_id"],
            "keep": keep,
            "dup_of": dup_of,
        }
    )


def _harden_skew(
    assigned: DataFrame,
    cap: int,
    seed: int,
    rounds: int,
    id_col: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Bound every cluster of ``assigned`` (id, cluster_id, _vec) at
    ``cap`` rows. Returns (bounded assignment, members) where members
    is the (id, _rep) frame of exact-duplicate rows collapsed out of
    hot clusters (None when the corpus is unskewed — in that case the
    input is returned as its local checkpoint and only one count
    aggregate ran over it).
    """
    assigned = assigned.localCheckpoint()
    over = (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > cap)
        .collect()
    )
    if not over:
        return assigned, None
    big_ids = [int(r["cluster_id"]) for r in over]
    big = assigned.filter(F.col("cluster_id").isin(big_ids))
    rest = assigned.filter(~F.col("cluster_id").isin(big_ids))
    # 1. exact-vector collapse inside the hot clusters (16-byte-keyed
    # grouping exchange restricted to the oversized rows; greedy-
    # equivalent — see module docstring).
    fp = F.md5(F.to_json(F.col("_vec")))
    slim = big.select(F.col(id_col), fp.alias("_vfp"))
    rep_ids = slim.groupBy("_vfp").agg(F.min(id_col).alias("_rep"))
    pairs = slim.join(rep_ids, "_vfp")
    members = pairs.filter(F.col(id_col) != F.col("_rep")).select(
        F.col(id_col), F.col("_rep")
    )
    reps = big.join(
        pairs.filter(F.col(id_col) == F.col("_rep")).select(id_col), id_col
    )
    current = rest.unionByName(reps).localCheckpoint()
    spark = current.sparkSession
    # 2. recursive sub-cluster split of whatever is still over cap.
    for rnd in range(rounds):
        over = (
            current.groupBy("cluster_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > cap)
            .collect()
        )
        if not over:
            break
        max_id = current.agg(F.max("cluster_id")).first()[0]
        big_ids = [int(r["cluster_id"]) for r in over]
        big = current.filter(F.col("cluster_id").isin(big_ids))
        rest = current.filter(~F.col("cluster_id").isin(big_ids))
        sub: dict[int, tuple[np.ndarray, int]] = {}
        next_id = int(max_id) + 1
        for r in over:
            cid, size = int(r["cluster_id"]), int(r["n"])
            k = max(2, min(int(math.ceil(size / max(cap // 2, 1))), 256))
            cents = _fit_centroids(
                big.filter(F.col("cluster_id") == cid).select(id_col, "_vec"),
                "_vec",
                k,
                seed=seed + 1000 * (rnd + 1) + cid,
                order_col=id_col,
                n_rows=size,  # known from the over-cap scan — no re-count
            )
            sub[cid] = (np.asarray(cents, dtype=np.float64), next_id)
            next_id += k
        bc = spark.sparkContext.broadcast(sub)

        @F.pandas_udf("int")
        def reassign(cid_s: pd.Series, vec_s: pd.Series) -> pd.Series:
            table = bc.value
            out = np.empty(len(cid_s), dtype=np.int64)
            for i, (cid, v) in enumerate(zip(cid_s.to_numpy(), vec_s.to_numpy())):
                mat, base = table[int(cid)]
                x = np.asarray(v, dtype=np.float64)
                d = np.einsum("ij,ij->i", mat, mat) - 2.0 * (mat @ x)
                out[i] = base + int(np.argmin(d))  # ties → lowest sub id
            return pd.Series(out).astype("int32")

        current = rest.unionByName(
            big.withColumn("cluster_id", reassign("cluster_id", "_vec"))
        ).localCheckpoint()
    return current, members


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_size: int | None = 8192,
    split_rounds: int = 3,
) -> DataFrame:
    """SemDeDup: cluster-bounded cosine near-duplicate removal.

    Output: (id, cluster_id, keep, dup_of) — one row per input row,
    ``keep`` false for rows judged semantic duplicates of an earlier
    (lower-id) kept row in the same cluster, ``dup_of`` that witness's
    id. Rows with null vectors are kept (nothing to compare) with a
    null cluster.

    ``max_cluster_size`` bounds the width of any screened cluster (the
    per-task memory cap — see module docstring; ``None`` disables the
    guard and reproduces the unhardened lazy single-pass plan).

    ``n_clusters`` defaults to a CONSTANT target cluster width
    (n / 1024), not √n: the greedy screen does O(width²·dim) work per
    cluster, so √n-sized clusters make TOTAL screen work O(n^1.5·dim)
    — measured 10.5× time on 4× data at 80k vectors — while constant
    width keeps it O(n·dim). The fit side tolerates the larger k:
    below the sample cap the driver Lloyd trains on ≤256k rows
    regardless, and above it MLlib k-means|| parallelizes k·n across
    the cluster (SemDeDup itself runs 50k clusters on LAION this way).
    """
    n = None
    if n_clusters is None:
        n = int(embeddings.count())
        n_clusters = max(2, -(-n // 1024))
    nonnull = embeddings.filter(F.col(vec_col).isNotNull())
    # thread the just-counted corpus size through as the fit's sample
    # bound so the fit does not re-count the corpus (r13; a too-high
    # bound only shrinks the sample fraction)
    centroids = _fit_centroids(
        nonnull, vec_col, n_clusters, seed=seed, order_col=id_col, n_rows=n
    )
    assigned = assign_lists(nonnull, centroids, vec_col).select(
        F.col(id_col),
        F.col("list_id").alias("cluster_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    members = None
    if max_cluster_size is not None:
        assigned, members = _harden_skew(
            assigned, max_cluster_size, seed, split_rounds, id_col
        )
    schema = _OUT_SCHEMA.format(id=id_col)
    screened = assigned.groupBy("cluster_id").applyInPandas(
        lambda pdf: _screen_cluster(pdf, threshold, id_col), schema
    )
    out = screened
    if members is not None:
        # collapsed members inherit their representative's outcome
        # (id-only join): rep kept → member is a dup of rep; rep
        # dropped → member shares rep's witness.
        rep_out = screened.select(
            F.col(id_col).alias("_rep"),
            F.col("cluster_id").alias("_rc"),
            F.col("keep").alias("_rk"),
            F.col("dup_of").alias("_rd"),
        )
        member_out = members.join(rep_out, "_rep").select(
            F.col(id_col),
            F.col("_rc").alias("cluster_id"),
            F.lit(False).alias("keep"),
            F.when(F.col("_rk"), F.col("_rep"))
            .otherwise(F.col("_rd"))
            .alias("dup_of"),
        )
        out = out.unionByName(member_out)
    nulls = embeddings.filter(F.col(vec_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("int").alias("cluster_id"),
        F.lit(True).alias("keep"),
        F.lit(None).cast("long").alias("dup_of"),
    )
    # No trailing orderBy: output is one row per input row, so a
    # presentation sort would be a corpus-sized range exchange (sampling
    # pass + global sort) purely for display. The driver's value-hash is
    # order-insensitive; callers that need ordered output sort the small
    # slice they display.
    result = out.unionByName(nulls)
    if max_cluster_size is not None:
        # the (narrow, 4-column) output is one eager local checkpoint:
        # the screen runs once here, not once per caller action
        result = result.localCheckpoint()
    return result


def semantic_dedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_size: int | None = 8192,
) -> DataFrame:
    """The filtered form: the surviving rows of ``embeddings`` (all
    original columns), i.e. the training set after semantic dedup."""
    marks = semantic_dedup(
        embeddings,
        threshold,
        n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        max_cluster_size=max_cluster_size,
    )
    return embeddings.join(
        marks.filter("keep").select(id_col), id_col, "inner"
    )
