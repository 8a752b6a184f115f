"""Scalar quantization (SQ8) — the middle tier of the ANN compression
family ([EXT]; exact float64 scan ↔ SQ8 bytes ↔ PQ codes).

Where PQ (operators/pq.py, 64× compression, recall needs a re-rank)
and the exact scan (operators/topk.py, no compression) bracket the
space, SQ8 is the standard middle point (faiss ``SQ8``,
pgvector-family half-precision analogs): one byte per DIMENSION via a
per-dimension affine map ``v ≈ min + scale·code``. A 64-dim float64
vector (512 B) becomes 64 B — 8× — while keeping per-dimension
resolution, so approximate scores are usually within re-rank-free
tolerance for moderate-dim embeddings (recall pinned in tests).

Spark-first shapes:
- TRAIN: per-dimension min/max as mapInPandas PARTIAL aggregates (one
  tiny row per partition — mergeable, no n·dim explode shuffle),
  combined on the driver.
- ENCODE: Arrow-batched whole-batch numpy; codes stored as BINARY
  (dim bytes/row — the densest layout parquet can carry).
- SEARCH: the asymmetric trick — ``dot(q, decode(c)) =
  dot(q, mins) + Σ_i (q_i·scale_i)·c_i``, so the driver precomputes
  the transformed query once and each Arrow batch is one
  (batch × dim) uint8 matrix · vector BLAS product. No decode
  materialization, no HOF; `orderBy().limit()` fuses to
  TakeOrderedAndProject. An exact re-rank form mirrors
  pq_topk_rerank for when full exactness is required.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class SqParams:
    """Per-dimension affine dequantization parameters (driver-sized)."""

    mins: list[float]
    scales: list[float]  # (max - min) / 255, floored at a tiny epsilon

    @property
    def dim(self) -> int:
        return len(self.mins)


def build_sq(embeddings: DataFrame, vec_col: str = "embedding") -> SqParams:
    """Train: distributed per-dimension min/max (partial per partition,
    combined on the driver — the collect is ≤ one row per partition)."""

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo = hi = None
        for pdf in it:
            vals = pdf["_v"].to_numpy()
            if len(vals) == 0:
                continue
            m = np.vstack(vals)
            plo, phi = m.min(axis=0), m.max(axis=0)
            lo = plo if lo is None else np.minimum(lo, plo)
            hi = phi if hi is None else np.maximum(hi, phi)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo.tolist()], "hi": [hi.tolist()]})

    rows = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).cast("array<double>").alias("_v"))
        .mapInPandas(partial, "lo array<double>, hi array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("build_sq: no non-null vectors to train on")
    lo = np.min([r["lo"] for r in rows], axis=0)
    hi = np.max([r["hi"] for r in rows], axis=0)
    scales = np.maximum((hi - lo) / 255.0, 1e-12)
    return SqParams([float(x) for x in lo], [float(x) for x in scales])


def encode_sq(
    embeddings: DataFrame,
    params: SqParams,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec) → (id, code binary): one byte per dimension, whole
    batch vectorized. Map-only, no shuffle."""
    mins = np.asarray(params.mins)
    scales = np.asarray(params.scales)

    @F.pandas_udf("binary")
    def enc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            m = np.vstack(s.to_numpy())
            codes = np.clip(np.rint((m - mins) / scales), 0, 255).astype(np.uint8)
            buf, w = codes.tobytes(order="C"), codes.shape[1]
            yield pd.Series([buf[i * w:(i + 1) * w] for i in range(len(codes))])

    vec = F.col(vec_col).cast("array<double>")
    # Null vectors (pre-backfill rows, SURVEY §1.2) are excluded here just
    # like build_sq / topk / knn do — np.vstack over a batch with None
    # would raise, and a null row can never be a search hit anyway.
    return embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), enc(vec).alias("code")
    )


def sq_topk(
    codes: DataFrame,
    params: SqParams,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate dot-product top-k over the byte codes (asymmetric:
    the query stays exact). Output: (id, approx_dot), descending."""
    q = np.asarray([float(x) for x in query_vec])
    tq = q * np.asarray(params.scales)
    const = float(q @ np.asarray(params.mins))
    dim = params.dim

    @F.pandas_udf("double")
    def score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            raw = s.to_numpy()
            if len(raw) == 0:
                yield pd.Series(np.array([], dtype=np.float64))
                continue
            m = np.frombuffer(b"".join(raw), dtype=np.uint8).reshape(len(raw), dim)
            yield pd.Series(const + m @ tq)

    return (
        codes.filter(F.col("code").isNotNull())
        .select(F.col(id_col), score(F.col("code")).alias("approx_dot"))
        .orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sq_topk_rerank(
    codes: DataFrame,
    embeddings: DataFrame,
    params: SqParams,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Byte-scan shortlist → exact cosine re-rank of ``shortlist`` rows
    (broadcast against the vector table — touches `shortlist` rows of
    full vectors, not the corpus). Output: (id, similarity, rank)."""
    from secure_agent_api_vector_search_spark.functions import vector as V

    sl = sq_topk(codes, params, query_vec, k=shortlist, id_col=id_col).select(id_col)
    sim = V.fold_query_scorer(query_vec, "cosine")(F.col(vec_col))
    return (
        embeddings.join(F.broadcast(sl), id_col)
        .select(F.col(id_col), sim.alias("similarity"))
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("similarity").desc(), F.col(id_col).asc())
            ),
        )
    )


def write_sq(params: SqParams, codes: DataFrame, path: str) -> None:
    """Persist an SQ8 index: byte-code corpus (`{path}/codes`) + the
    per-dimension affine parameters as one small parquet — the
    encode-once/serve-many layout (same split as write_ivf/write_pq)."""
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    spark = codes.sparkSession
    rows = [(i, float(mn), float(sc)) for i, (mn, sc) in enumerate(zip(params.mins, params.scales))]
    from secure_agent_api_vector_search_spark.functions.localdf import local_frame

    local_frame(spark, rows, "dim int, min double, scale double").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/params")


def read_sq(spark, path: str) -> tuple[SqParams, DataFrame]:
    codes = spark.read.parquet(f"{path}/codes")
    rows = spark.read.parquet(f"{path}/params").orderBy("dim").collect()
    return SqParams([r["min"] for r in rows], [r["scale"] for r in rows]), codes
