"""Vector scoring — the engine's analog of pgvector operators.

Reference mapping (SURVEY.md §2.3):
- `<=>` cosine distance (tools.yaml:24,26, V2) → :func:`cosine_distance`
- `1 - (<=>)` similarity projection (tools.yaml:24, V3) →
  :func:`cosine_similarity`
- L2 opclass of the ivfflat index (sql/05_vector_index.sql:4) →
  :func:`l2_distance`

Two forms, split by what the query side is:

- **Query vs corpus** (the reference's one query, `ORDER BY embedding
  <=> $1 LIMIT $2`): :func:`fold_query_scorer`, one Arrow-batched
  numpy kernel for every metric and every dim. It holds the edge
  contract (null, short, zero-norm and NaN rows) in one guard.
- **Column vs column** (dedup, knn, pq pairs): native Catalyst
  expressions. With a statically known ``dim`` ≤ UNROLL_MAX_DIM the
  fold is UNROLLED into `a[0]*b[0] + a[1]*b[1] + …`, which joins
  whole-stage codegen; otherwise the interpreted `zip_with` +
  `aggregate` HOF fold.

Numerical contract: all math is float64 with a **left fold in array
order** — the unrolled sum, the HOF fold and the query scorer all
associate `((0+t0)+t1)+…`, so every form is bit-for-bit identical to
DuckDB's `list_dot_product` and the correctness oracle compares at
full precision, no rounding tolerance needed.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

Vec = "Column | str | list[float] | tuple[float, ...]"


def _c(col) -> Column:
    if isinstance(col, str):
        return F.col(col)
    if isinstance(col, (list, tuple)):
        return F.lit([float(x) for x in col])
    return col


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _unrolled_sql(a, b, dim: int) -> str | None:
    """Left-fold unrolled dot as ONE SQL string, or None if an operand
    is not SQL-renderable (an arbitrary Column expression).

    Why this exists: building the same expression with Column operators
    costs ~4 py4j round-trips per term (~1.3 s at dim 64 for a cosine —
    measured), paid on EVERY query construction. One F.expr parse is
    milliseconds. The string spells the exact same plan: a leading
    `0.0D +` keeps the fold's (0.0 + t0) + t1 … association, so values
    stay bit-identical to the HOF fold and the DuckDB oracle.
    """

    def side(x):
        if isinstance(x, str):
            ident = _sql_ident(x)
            return lambda i: f"{ident}[{i}]"
        if isinstance(x, (list, tuple)):
            vals = [float(v) for v in x]
            if len(vals) < dim or not all(math.isfinite(v) for v in vals):
                return None
            return lambda i: f"{vals[i]!r}D"
        return None

    fa, fb = side(a), side(b)
    if fa is None or fb is None:
        return None
    return "(0.0D + " + " + ".join(f"{fa(i)}*{fb(i)}" for i in range(dim)) + ")"


# Max dimension for the unrolled codegen form. The left-associated sum
# builds a Column tree of depth ~3·dim; beyond a few hundred terms the
# Column→Expression conversion recurses too deep (observed failure at
# 768), and even a balanced-tree unroll dies in janino ("Code grows
# beyond 64 KB" — one expression is one generated method, unsplittable;
# measured here at dim 768, which then runs interpreted at HOF speed).
# Above the cap the column-vs-column forms take the HOF fold.
UNROLL_MAX_DIM = 256


def dot(a, b, dim: int | None = None) -> Column:
    """Inner product  Σ a_i·b_i  as a left fold (array order).

    Operands may be Columns, column NAMES (str), or literal float
    sequences. With ``dim`` ≤ UNROLL_MAX_DIM, an unrolled codegen sum —
    rendered as one SQL string when the operands allow it (see
    :func:`_unrolled_sql`; arbitrary Column operands fall back to the
    Column-tree build, ~4 py4j calls per term). Otherwise the
    interpreted HOF fold (identical values every way — see module
    contract). The unroll pays a per-query codegen compile (~1 s), so
    it loses on toy scans and wins on large ones — at 100 TB the
    interpreted fold is the scan bottleneck; both forms are kept
    deliberately.
    """
    if dim is not None and dim <= UNROLL_MAX_DIM:
        sql = _unrolled_sql(a, b, dim)
        if sql is not None:
            return F.expr(sql)
        aa, bb = _c(a), _c(b)
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + aa[i] * bb[i]
        return acc
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a, dim: int | None = None) -> Column:
    """Euclidean norm ``sqrt(Σ a_i²)``. Operands as in :func:`dot`."""
    return F.sqrt(dot(a, a, dim))


def cosine_similarity(a, b, dim: int | None = None) -> Column:
    """cos(a, b) = dot(a,b) / (|a|·|b|) — the `1 - <=>` projection the
    reference exposes as `similarity` (tools.yaml:24). Operands as in
    :func:`dot` (names/literal vectors keep the cheap SQL construction;
    a literal operand's norm constant-folds in Catalyst)."""
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def cosine_distance(a, b, dim: int | None = None) -> Column:
    """pgvector `<=>`: 1 − cos(a, b) (tools.yaml:26)."""
    return F.lit(1.0) - cosine_similarity(a, b, dim)


def l2_distance(a, b, dim: int | None = None) -> Column:
    """Euclidean distance via the expansion |a|² − 2·a·b + |b|².

    The expansion (rather than Σ(a_i−b_i)²) is used deliberately: the
    DuckDB oracle can express the identical arithmetic with three
    `list_dot_product` calls, giving bit-exact parity. `greatest(·, 0)`
    clamps the tiny negative residue when a ≈ b; a NULL operand (or
    element) scores NULL. Operands pass through raw so name/literal
    forms keep the cheap SQL construction.
    """
    sq = dot(a, a, dim) - F.lit(2.0) * dot(a, b, dim) + dot(b, b, dim)
    # GREATEST skips a NULL argument: without the guard a NULL vector
    # would score sqrt(0.0) = 0.0, a perfect match
    return F.when(sq.isNotNull(), F.sqrt(F.greatest(sq, F.lit(0.0))))


def fold_query_scorer(query_vec, metric: str = "cosine"):
    """The one query-vs-corpus scorer: every exact top-k against a
    driver-known query vector scores through this function — the
    top-k, its keyset page, the grouped search, the IVF probe, the
    hybrid score and the SQ re-rank.

    Returns a one-argument Column function ``f(vec_col) -> double``:
    an Arrow-batched pandas iterator UDF with the query closed over
    (shipped once with the task), so only the vector column crosses the
    Arrow boundary. ``float`` arrays are widened to float64 exactly, as
    a cast would. It is an iterator UDF like ``embedder.embed_udf``, so
    Spark chains ``score(embed(text))`` into one Python stage and
    freshly computed embeddings never travel back to the JVM.

    Values are bit-for-bit those of the unrolled left-fold expressions
    (:func:`dot`, :func:`cosine_similarity`, :func:`l2_distance`):
    dot = (((0.0 + t_0) + t_1) + …) with one multiply per term,
    vectorized ACROSS THE BATCH instead of across the dimension, so
    each step performs the same IEEE double ops the fold performs per
    row. The full-precision DuckDB oracle gate relies on this.

    Edge contract — one guard, inherited by every caller: a row scores
    NULL unless its score is a number.

    - a NULL row, or a row shorter than the query, scores NULL for
      every metric;
    - a zero-norm row (or a zero-norm query) scores NULL under cosine;
    - a NaN or NULL element scores NULL: both reach pandas as NaN, and
      a NaN score would otherwise rank above every real double;
    - a row longer than the query is read to the query's dim.

    NULL-scored rows are never top-k answers; callers order nulls last
    and drop them.
    """
    if metric not in ("cosine", "dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    q = [float(x) for x in query_vec]
    dim = len(q)
    # query-side constants via the same left fold Catalyst would
    # constant-fold from the literal expression
    qq = 0.0
    for x in q:
        qq = qq + x * x
    qn = math.sqrt(qq)

    @F.pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for v in batches:
            vals = v.to_numpy()
            lens = np.fromiter(
                (-1 if x is None else len(x) for x in vals), dtype=np.int64, count=len(vals)
            )
            # the guard: NaN crosses the Arrow boundary as NULL, so null
            # and short rows are left NaN, as is any row whose fold
            # meets a NaN or a NULL element (NaN in pandas)
            out = np.full(len(vals), np.nan)
            idx = np.flatnonzero(lens >= dim)
            if len(idx):
                rows = vals[idx]
                if int(lens[idx].max()) > dim:
                    rows = [x[:dim] for x in rows]
                m = np.stack(rows).astype(np.float64, copy=False)
                d = np.zeros(len(idx), dtype=np.float64)
                for i in range(dim):
                    d += m[:, i] * q[i]
                if metric == "dot":
                    out[idx] = d
                else:
                    na = np.zeros_like(d)
                    for i in range(dim):
                        na += m[:, i] * m[:, i]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        if metric == "cosine":
                            den = np.sqrt(na) * qn
                            out[idx] = np.where(den == 0.0, np.nan, d / den)
                        else:  # same association as l2_distance's expansion
                            out[idx] = np.sqrt(np.maximum((na - 2.0 * d) + qq, 0.0))
            yield pd.Series(out)

    return score


def fold_normalize():
    """Arrow-batched bit-exact twin of :func:`normalize` — same values
    (unit vector via x_i / sqrt(left-fold Σx_i²), zero-norm/null rows
    → NULL), evaluated as one numpy pass per batch instead of the
    interpreted HOF pair (`transform` re-inlines the whole `l2_norm`
    fold PER ELEMENT after projection collapse: dim² interpreted ops
    per row — measured seconds per pass on the k-means fit's corpus
    scans, r13). The fold runs dimension-sequential across the batch,
    so every sum and division is the same IEEE op the expression form
    performs per row — centroid training input stays bit-identical,
    which the witness-replay oracles require."""

    @F.pandas_udf("array<double>")
    def norm(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        res = np.full(len(vals), None, dtype=object)
        lens = np.fromiter(
            (len(x) if x is not None else -1 for x in vals),
            dtype=np.int64, count=len(vals),
        )
        mask = lens >= 0
        if mask.any():
            sub = vals[mask]
            sub_lens = lens[mask]
            out = np.full(len(sub), None, dtype=object)
            # the expression form is per-row (length-agnostic), so a
            # MIXED-length batch must not fail np.stack (r13 ADVICE):
            # group rows by length — a real corpus is uniform, so this
            # is one group and one stack
            for ln in np.unique(sub_lens):
                grp = np.flatnonzero(sub_lens == ln)
                m = np.stack(sub[grp]).astype(np.float64, copy=False)
                na = np.zeros(len(m), dtype=np.float64)
                for i in range(m.shape[1]):
                    c = m[:, i]
                    na = na + c * c
                n = np.sqrt(na)
                pos = n > 0
                if pos.any():
                    unit = m[pos] / n[pos, None]
                    for j, row in zip(grp[pos], unit):
                        out[j] = row
            res[mask] = out
        return pd.Series(res)

    return norm


def normalize(a: Column | str) -> Column:
    """Unit-normalize an array<double> column (null-safe on zero norm).

    Stored-unit-norm is the 100 TB layout choice (SURVEY.md §4): with
    unit vectors, cosine = dot and L2 ranks identically to cosine, so
    one index layout serves both metrics.
    """
    aa = _c(a)
    n = l2_norm(aa)
    return F.when(n > 0, F.transform(aa, lambda x: x / n))
