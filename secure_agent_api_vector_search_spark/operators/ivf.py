"""IVF (inverted-file) ANN index — the reference's ivfflat rebuilt as
an index-as-table (V5, SURVEY.md §2.3).

Reference: `CREATE INDEX ... USING ivfflat (abstract_embeddings
vector_l2_ops) WITH (lists = 100)` (sql/05_vector_index.sql:3-5) —
coarse quantization: k-means centroids, each row assigned to its
nearest centroid's list; a query probes only the closest lists.
(The reference's index is actually unusable by its own cosine query —
opclass mismatch, V6 — so the EXACT path in operators/topk.py is the
correctness contract and this is the performance path, recall-checked
against it.)

Spark-first design — no custom Catalyst rule needed (SURVEY.md §4):
- BUILD (batch): MLlib KMeans fits centroids (sampled at scale); every
  row gets a `list_id`; the corpus is written partitioned by `list_id`.
  Centroids are a tiny side table (lists ≈ √n rows).
- PROBE (query): rank centroids vs the query vector ON THE DRIVER
  (lists ≈ √n rows — e.g. 10k for 100M vectors, trivially
  driver-sized), then read only the `nprobe` chosen partitions —
  Spark's ordinary **partition pruning** does the physical skipping —
  and run the exact top-k inside them.

At 100 TB: scan cost drops from |corpus| to nprobe/lists of it
(e.g. 10/316 ≈ 3%); the build is one KMeans over a sample plus one
shuffle-free map to assign list ids, and one partitioned write.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions.kmeans import lloyd
from secure_agent_api_vector_search_spark.functions.vector import fold_normalize
from secure_agent_api_vector_search_spark.operators.topk import topk_similar
from secure_agent_api_vector_search_spark.sources.fsutil import fs_delete, fs_swap


@dataclass
class IvfIndex:
    """In-memory handle: assigned corpus + centroid table.

    ``metric`` is the ROUTING metric the centroids were trained under
    ("l2" or "cosine") — scoring metric is chosen per query at probe
    time (cosine is scale-invariant, so cosine scoring over any routing
    is well-defined; the recall question is whether routing agrees with
    it, see :func:`_fit_centroids`)."""

    assigned: DataFrame          # corpus columns + list_id
    centroids: list[list[float]]  # list_id -> centroid vector
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    metric: str = "l2"


def _fit_centroids(
    embeddings: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int = 42,
    sample_cap: int = 262_144,
    metric: str = "l2",
    order_col: str | None = None,
    n_rows: int | None = None,
) -> list[list[float]]:
    """Coarse-quantizer training: k-means on a bounded driver sample,
    with a DISTRIBUTED escape hatch above the sample budget.

    This is the standard IVF recipe (what faiss does): centroid quality
    needs ~100·k training points, not the full corpus, so a ≤256k-row
    sample is collected and Lloyd's algorithm runs in numpy on the
    driver — a 256k × 768-dim sample is ~1.5 GB, driver-sized even at
    100 TB corpus scale. Only the ASSIGNMENT pass (assign_lists) is
    distributed, and it is a shuffle-free map. A distributed MLlib
    KMeans fit costs ~2 Spark jobs per iteration and is strictly slower
    below ~10M training rows.

    Escape hatch: the ~100·k rule breaks the cap at k ≳ 2,600 (the √n
    sizing reaches that around n ≈ 7M vectors) — when
    ``n_lists * 100 > sample_cap``, the fit switches to
    `pyspark.ml.clustering.KMeans` over the FULL corpus (k-means||
    seeding, no driver collect), so training quality no longer depends
    on a driver-sized sample. Train/assign parity holds either way:
    MLlib only supplies the centers; every assignment still goes through
    the one BLAS map in :func:`_nearest_lists_udf`, identical math for
    both fit paths.

    ``metric="cosine"`` trains on UNIT-normalized vectors and returns
    UNIT centroids (spherical k-means up to the final projection). With
    all-unit centroids, plain L2 assignment/ranking of a raw vector x is
    exactly cosine order — argmin ‖x−c‖² = argmax x·c when ‖c‖ ≡ 1 — so
    the probe/assign code needs no metric branch and an UNNORMALIZED
    corpus routes correctly. This closes the reference's V6 trap from
    the other side: its ivfflat index is built `vector_l2_ops`
    (sql/05_vector_index.sql:4) while its query scores cosine
    (tools.yaml:26), so routing silently disagrees with scoring.
    """
    import numpy as np


    key = [F.col(order_col).alias("_oid")] if order_col else []
    vecs = embeddings.filter(F.col(vec_col).isNotNull()).select(
        *key, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    if metric == "cosine":
        # zero-norm vectors normalize to NULL — no direction, nothing
        # to train on. fold_normalize (r13) = bit-exact Arrow twin of
        # the normalize() expression, whose collapsed transform
        # re-evaluated the interpreted norm fold per element (dim²
        # interpreted ops/row over every fit pass)
        vecs = vecs.select(
            *(["_oid"] if order_col else []),
            fold_normalize()(F.col(vec_col)).alias(vec_col),
        ).filter(F.col(vec_col).isNotNull())
    elif metric != "l2":
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")

    if n_lists * 100 > sample_cap:
        c = _fit_centroids_distributed(vecs, vec_col, n_lists, seed)
    else:
        # ``n_rows``: an upper bound on the trainable row count a
        # caller already holds (e.g. the corpus count it just derived
        # n_lists from) — saves one full corpus pass; a too-HIGH bound
        # only shrinks the sample fraction, never the correctness
        # (below the cap frac is 1.0 either way).
        # Known bias (r13 ADVICE): callers pass the PRE-filter count,
        # which includes null (and, for cosine, zero-norm) vectors the
        # select above dropped — above the cap the effective sample is
        # sample_cap · (trainable/n_rows) rows, i.e. UNDER-samples in
        # proportion to the corpus's null density. Deliberate: quality
        # degrades gracefully (k-means on a slightly smaller sample),
        # while "correcting" frac would change centroids for every
        # witness-replayed fit. A caller with a high-null corpus should
        # pass n_rows=None and pay the count.
        n = vecs.count() if n_rows is None else n_rows
        frac = min(1.0, sample_cap / max(n, 1))
        sample = vecs if frac >= 1.0 else vecs.sample(fraction=frac, seed=seed)
        rows = sample.collect()
        if order_col:
            # driver-side id sort (no extra shuffle): collect order is
            # file/partition order, which happens to equal id order on a
            # single-file corpus but NOT on a multi-file or re-sorted
            # one — witness-replay oracles (oracle_gen.py) re-fit lloyd
            # on the id-ordered matrix, so the training order must be a
            # property of the data, not of the parquet layout
            rows.sort(key=lambda r: r["_oid"])
            x = np.array([r[vec_col] for r in rows])
        else:
            x = np.array([r[0] for r in rows])
        # O(k·n) k-means++ seeding + chunked Lloyd (functions/kmeans.py) —
        # keeps the √n list sizing honest: k≈10k on the 256k-cap sample
        # seeds in seconds, not the hours of the naive O(k²·n) loop.
        c = lloyd(x, n_lists, np.random.default_rng(seed), iters=20)

    if metric == "cosine":
        norms = np.linalg.norm(c, axis=1)
        norms[norms == 0.0] = 1.0
        c = c / norms[:, None]
    return [[float(v) for v in row] for row in c]


def _fit_centroids_distributed(
    vecs: DataFrame, vec_col: str, n_lists: int, seed: int
) -> "np.ndarray":
    """MLlib k-means|| fit over the full corpus — the above-the-cap
    path of :func:`_fit_centroids`. Nothing but the k×d centroid matrix
    ever reaches the driver."""
    from pyspark.ml.clustering import KMeans as MlKMeans
    from pyspark.ml.functions import array_to_vector

    feats = vecs.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = MlKMeans(k=n_lists, seed=seed, maxIter=20, tol=1e-4).fit(feats)
    return np.asarray(model.clusterCenters(), dtype=np.float64)


def _nearest_lists_udf(centroids: list[list[float]], nprobe: int):
    """Whole-batch numpy centroid ranker: vec column → the nprobe
    nearest list ids, ordered by (L2 distance, list_id).

    The centroid matrix ships ONCE in the task closure and each Arrow
    batch is one (batch × lists) BLAS distance block — the executor
    mirror of the driver-side Lloyd assignment (functions/kmeans.py),
    so train and assign use identical math. The expression alternative
    (transform over an inlined centroid array of per-list HOF l2
    folds) evaluates INTERPRETED — lists·dim ops per row, which at the
    reference's lists=100 × dim=768 makes ingest assignment the
    bottleneck instead of a scan-speed map. Null vectors rank to null
    (callers drop or quarantine them), matching the old expression
    form's null propagation.
    """
    c = np.asarray([[float(x) for x in v] for v in centroids], dtype=np.float64)
    csq = np.einsum("ij,ij->i", c, c)

    @F.pandas_udf("array<int>")
    def rank(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        out = np.full(len(vals), None, dtype=object)
        mask = np.fromiter((x is not None for x in vals), dtype=bool, count=len(vals))
        if mask.any():
            m = np.stack(vals[mask]).astype(np.float64, copy=False)
            d = np.einsum("ij,ij->i", m, m)[:, None] - 2.0 * (m @ c.T) + csq[None, :]
            # stable argsort == (distance, list_id) tiebreak
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
            # object-array rows must be assigned individually (a fancy
            # index would coerce the list of rows into a 2-D block)
            for j, row in zip(np.flatnonzero(mask), order):
                out[j] = row
        return pd.Series(out)

    return rank


def assign_lists(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag each row with its nearest centroid id (L2, like the
    reference's vector_l2_ops) — a pure map stage, no shuffle, one
    BLAS distance block per Arrow batch (:func:`_nearest_lists_udf`).
    Ties break to the lowest list_id, same as the expression form this
    replaces (array_position of array_min = first occurrence)."""
    ranked = _nearest_lists_udf(centroids, nprobe=1)(F.col(vec_col))
    return embeddings.withColumn("list_id", ranked[0])


def build_ivf(
    embeddings: DataFrame,
    n_lists: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    metric: str = "l2",
    sample_cap: int = 262_144,
) -> IvfIndex:
    """Fit + assign. ``n_lists`` defaults to √n (pgvector's own sizing
    guidance; the reference hardcodes 100 for its corpus).

    ``metric="cosine"`` makes routing cosine-consistent (unit centroids,
    see :func:`_fit_centroids`) — pass it whenever queries score cosine
    over a corpus that is not unit-normalized; the default "l2" mirrors
    the reference's `vector_l2_ops` build.

    ``sample_cap`` bounds the driver-side training sample
    (:func:`_fit_centroids`); lower it when a maintenance job should
    pay less fit time than the default budget — centroid quality needs
    ~100·k rows, not the corpus."""
    if n_lists is None:
        n_lists = max(2, int(math.sqrt(embeddings.count())))
    centroids = _fit_centroids(
        embeddings, vec_col, n_lists, seed=seed, metric=metric,
        sample_cap=sample_cap, order_col=id_col,
    )
    return IvfIndex(
        assign_lists(embeddings, centroids, vec_col), centroids, id_col, vec_col, metric
    )


def write_ivf(index: IvfIndex, path: str) -> None:
    """Persist the index: corpus partitioned BY LIST (so probing is
    partition pruning on disk) + centroids as one small parquet (which
    also carries the routing metric, so a reader probes the same way
    the builder routed)."""
    index.assigned.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/lists")
    spark = index.assigned.sparkSession
    rows = [(i, c, index.metric) for i, c in enumerate(index.centroids)]
    from secure_agent_api_vector_search_spark.functions.localdf import local_frame

    local_frame(
        spark, rows, "list_id int, centroid array<double>, metric string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf(spark: SparkSession, path: str, id_col: str = "vec_id", vec_col: str = "embedding") -> IvfIndex:
    assigned = spark.read.parquet(f"{path}/lists")
    cent = spark.read.parquet(f"{path}/centroids")
    # one collect (not first() + collect — no extra driver job), with a
    # descriptive error instead of an opaque NoneType crash when the
    # centroids table is empty or truncated
    cent_rows = cent.orderBy("list_id").collect()
    if not cent_rows:
        raise ValueError(
            f"corrupt IVF index at {path!r}: centroids table is empty "
            "(was the index build interrupted?)"
        )
    # pre-metric layouts (no `metric` column) were always l2-routed
    metric = "l2" if "metric" not in cent.columns else cent_rows[0]["metric"]
    return IvfIndex(assigned, [list(r["centroid"]) for r in cent_rows], id_col, vec_col, metric)


def rebuild_ivf(
    spark: SparkSession,
    path: str,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    metric: str | None = None,
    index: IvfIndex | None = None,
    sample_cap: int = 262_144,
) -> IvfIndex:
    """Compaction: re-train centroids over the CURRENT corpus (base
    build + everything streamed in since) and rewrite the lists layout.

    This is the maintenance half of the incremental story
    (streaming/ingest.py::start_indexed_ingest appends with frozen
    centroids): run it when ingest volume or distribution drift has
    degraded list balance — the same cadence guidance as pgvector's
    "reindex after heavy writes" for the reference's ivfflat
    (sql/05_vector_index.sql). The rewrite never writes over a
    directory it is reading: the new layout lands in a temp sibling
    (`{path}/_rebuild_tmp`) while the live index stays intact — so a
    lost cache partition or task retry re-reads a CONSISTENT source —
    and the swap is two filesystem renames (atomic on HDFS-like stores;
    a reader racing the swap fails cleanly and retries, it can never
    see half-rewritten data). Collect-free: only the KMeans sample ever
    reaches the driver.
    """
    # ``index``: pass an already-loaded handle (rebuild_if_skewed just
    # read one) to skip a redundant centroid collect + lists listing
    old = read_ivf(spark, path, id_col, vec_col) if index is None else index
    corpus = old.assigned.drop("list_id")
    new_index = build_ivf(
        corpus,
        n_lists=n_lists,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
        metric=old.metric if metric is None else metric,
        sample_cap=sample_cap,
    )
    tmp = f"{path}/_rebuild_tmp"
    write_ivf(new_index, tmp)  # reads live dirs, writes the sibling
    for sub in ("lists", "centroids"):
        _fs_swap(spark, f"{tmp}/{sub}", f"{path}/{sub}")
    _fs_delete(spark, tmp)
    return read_ivf(spark, path, id_col, vec_col)


def _fs_swap(spark: SparkSession, src: str, dst: str) -> None:
    """Shared temp-sibling swap — see sources/fsutil.py (moved there so
    the parquet-compaction maintenance op reuses the same atomic
    delete+rename discipline)."""
    fs_swap(spark, src, dst)


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs_delete(spark, path)


def list_balance_stats(index: IvfIndex) -> dict:
    """Index-health metric for the maintenance loop: per-list sizes
    reduced to one driver-sized summary (one distributed groupBy over
    8-byte keys; only `n_lists` aggregate rows ever leave the cluster).

    ``skew`` = max_list / mean_list over NON-EMPTY lists (1.0 = perfectly
    balanced; pgvector's ivfflat degrades the same way under drifted
    writes — this is the measurement its REINDEX guidance assumes you
    eyeball). ``empty_lists`` counts trained centroids that own no rows —
    probes aimed there scan nothing, a recall-for-free loss."""
    sizes = index.assigned.groupBy("list_id").count()
    row = sizes.agg(
        F.count("*").alias("nonempty"),
        F.max("count").alias("max_list"),
        F.avg("count").alias("mean_list"),
        F.sum("count").alias("n_rows"),
    ).first()
    nonempty = int(row["nonempty"] or 0)
    mean = float(row["mean_list"] or 0.0)
    return {
        "n_lists": len(index.centroids),
        "empty_lists": len(index.centroids) - nonempty,
        "n_rows": int(row["n_rows"] or 0),
        "max_list": int(row["max_list"] or 0),
        "mean_list": mean,
        "skew": (float(row["max_list"]) / mean) if mean > 0 else 0.0,
    }


def rebuild_if_skewed(
    spark: SparkSession,
    path: str,
    threshold: float = 4.0,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = 262_144,
) -> tuple[IvfIndex, bool]:
    """The IVF maintenance job: measure list skew, re-cluster only when
    it crosses ``threshold``. Returns (index, rebuilt?).

    This is what keeps :func:`streaming.ingest.start_indexed_ingest`
    honest at scale — streamed appends assign against FROZEN centroids,
    so a drifting ingest distribution piles rows into a few lists
    (ballooning probe cost) and leaves new-region structure split across
    stale Voronoi cells (recall loss at low nprobe). Run this on the
    compaction cadence (pgvector ivfflat's "REINDEX after heavy writes",
    sql/05_vector_index.sql's index has the identical failure mode);
    below threshold it costs ONE count-aggregate job and touches
    nothing."""
    index = read_ivf(spark, path, id_col, vec_col)
    stats = list_balance_stats(index)
    if stats["skew"] <= threshold:
        return index, False
    rebuilt = rebuild_ivf(
        spark, path, n_lists=n_lists, id_col=id_col, vec_col=vec_col,
        seed=seed, index=index, sample_cap=sample_cap,
    )
    return rebuilt, True


def _rank_lists(centroids: list[list[float]], query_vec: Sequence[float]) -> list[int]:
    """Driver-side centroid ranking by L2 — one numpy matvec.

    O(lists · dim) either way, but at the √n sizing this module
    advertises (lists ≈ 10k for 100M vectors at dim 768) the
    pure-Python sum-of-squares loop is ~10⁷ interpreted float ops PER
    QUERY — seconds of driver time on the per-query hot path — vs
    single-digit milliseconds as a BLAS matvec. Stable argsort keeps
    the (distance, list_id) tiebreak identical to the executor ranker
    (:func:`_nearest_lists_udf`)."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    d = np.einsum("ij,ij->i", c, c) - 2.0 * (c @ q)  # + ||q||², constant
    return [int(i) for i in np.argsort(d, kind="stable")]


def ivf_search(
    index: IvfIndex,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Probe the nprobe nearest lists, exact top-k within them.

    `filter(list_id IN probes)` prunes partitions when the index was
    written with :func:`write_ivf` (partitionBy list_id) — the physical
    read touches only nprobe/lists of the data.
    """
    probes = _rank_lists(index.centroids, query_vec)[:nprobe]
    pruned = index.assigned.filter(F.col("list_id").isin(probes))
    return topk_similar(
        pruned, query_vec, k=k, metric=metric, id_col=index.id_col, vec_col=index.vec_col
    )


def ivf_search_filtered(
    index: IvfIndex,
    query_vec: Sequence[float],
    predicate,
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Filtered ANN: probe pruning × metadata predicate — both filters
    land on the SAME scan (list partition pruning first, then the
    row-level predicate inside the surviving partitions), so cost is
    nprobe/lists of the data even under a selective filter.

    Semantics note (inherent to pre-filtered IVF, same trade as
    pgvector's iterative scan problem): recall is relative to the
    probed lists — a highly selective predicate can empty the probe set
    while matches exist in unprobed lists; raise ``nprobe`` when the
    predicate is narrow. The exact-path alternative is
    :func:`operators.topk.topk_similar_filtered`.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    probes = _rank_lists(index.centroids, query_vec)[:nprobe]
    pruned = index.assigned.filter(F.col("list_id").isin(probes)).filter(pred)
    return topk_similar(
        pruned, query_vec, k=k, metric=metric, id_col=index.id_col, vec_col=index.vec_col
    )
