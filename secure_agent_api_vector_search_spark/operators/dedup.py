"""Deduplication operators — exact, near (MinHash-LSH / SimHash /
n-gram Jaccard), and semantic (embedding cosine).

[EXT] operators (SURVEY.md §2.10): first-class components of a
training-data pipeline. The reference has no dedup; its seed corpus is
50 curated rows (sql/03_seed_data.sql:2-51).

Scale shapes (the whole point of each design):
- exact:      one hash-groupBy shuffle keyed by md5(text) — never a
              text-to-text comparison.
- minhash:    signatures are a map stage (native xxhash64 expressions);
              LSH banding turns all-pairs into a band-hash equi-join —
              candidates ∝ collisions, verification only on candidates.
- simhash:    64-bit fingerprint map stage; candidates via banding the
              fingerprint into 4×16-bit chunks (any chunk equal →
              candidate, catches Hamming ≤ 3 guaranteed when distance
              < chunks), verify popcount.
- embedding:  LSH over random hyperplanes or (here, with a labeled
              corpus) block-join within blocks; never n².
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from secure_agent_api_vector_search_spark.functions import hashing as H
from secure_agent_api_vector_search_spark.functions import text as X
from secure_agent_api_vector_search_spark.functions import vector as V
from secure_agent_api_vector_search_spark.sources.tables import rebalance_if_narrow


def _pair_order(df: DataFrame) -> DataFrame:
    """Deterministic (id_a, id_b) total order for the pair output.

    A global ``orderBy`` would insert a range-partitioned exchange whose
    sampling job RE-EXECUTES the entire upstream candidate/verify
    pipeline once more (measured: ~2x cold time on minhash at sf0.1).
    The pair stream is orders of magnitude smaller than the corpus —
    dup rate times corpus, ~10^2-10^6 rows of 24 bytes even at 100 TB
    input — so a single-partition sort is both cheaper and safe. The
    ordering contract exists for tests/oracle comparison; large-scale
    callers consume the unordered parent instead.

    ``repartition(1)``, NOT ``coalesce(1)``: coalesce propagates the
    1-partition constraint up to the previous exchange, collapsing the
    verify join itself into a single task (measured: minhash verify
    11s parallel → 60+s serialized). repartition inserts a real
    shuffle boundary, so upstream keeps full parallelism and only the
    tiny pair set crosses into the one sorting task.
    """
    return df.repartition(1).sortWithinPartitions("id_a", "id_b")


def _attach_pair_payloads(
    cand: DataFrame, side_a: DataFrame, side_b: DataFrame
) -> DataFrame:
    """Attach one per-id payload column per side (shingle set / gram
    set / vector) to a bare candidate-pair frame ``(id_a, id_b)`` for
    the exact verify — with an explicit broadcast hint ONLY on the
    bare pairs, never on payload-carrying rows.

    The previous shape wrapped the first probe's RESULT in
    ``F.broadcast`` to drive the second probe. That hint bypasses
    ``autoBroadcastJoinThreshold`` sizing, and the wrapped intermediate
    carries the per-doc arrays, so its size is candidate-count ×
    payload — unbounded in corpus size and dup density; at scale it
    hits Spark's 8 GB broadcast hard cap / driver OOM and fails the
    job outright (round-12 ADVICE, guide §3.1).

    Shape: the bare pairs broadcast into the first probe (streams the
    ``side_a`` corpus in place, no shuffle), and the SECOND join is
    deliberately un-hinted — AQE picks its strategy from the REAL
    runtime size of the candidate-×-payload intermediate: small → a
    stats-sized broadcast (within the configured threshold, never the
    blind 8 GB-cap gamble); large → sort-merge, whose payload-side
    shuffle is linear and spills gracefully instead of failing the
    build. Measured at sf0.1 (minhash, 25k candidates): 1.43 s vs
    1.68 s for the old double-broadcast — the hint was not even buying
    local speed.

    Two rejected alternatives, for the record: a pair-keyed meet of
    two bare-broadcast probes consumed ``cand`` twice (AQE compiled
    the duplicate broadcast builds without exchange reuse — the whole
    banding pipeline ran 2x, and the jaccard filter sank into an
    interpreted SMJ condition); a side-tagged explode + grouped
    reassembly saved one corpus scan but paid more in the
    array-carrying aggregate (2.9 s vs 1.4 s).
    """
    return F.broadcast(cand).join(side_a, "id_a").join(side_b, "id_b")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact-text group. Returns the kept rows.

    groupBy on a fixed-width hash (not the text itself) keeps shuffle
    rows small; `min(id)` is the deterministic keeper policy.
    """
    keepers = (
        df.select(F.col(id_col), X.exact_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers, id_col, "left_semi")


def dedup_normalized_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per NORMALIZED-text group (case/punct/ws
    folded) — :func:`dedup_exact`'s combiner-safe groupBy shape on the
    normalized fingerprint. The groupBy matters at scale: a min() over
    a window partitioned by fingerprint is ONE sort task per group, so
    a viral document duplicated 10^6 times becomes an unsplittable hot
    partition; partial aggregation splits it for free."""
    keepers = (
        df.select(F.col(id_col), F.md5(X.normalized_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers, id_col, "left_semi")


def dedup_groups_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups (size > 1): (fingerprint, keeper_id, n_dups)."""
    return (
        df.select(X.exact_fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_groups_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup on the normalized text (case/punct/ws-folded)."""
    return (
        df.select(F.md5(X.normalized_text(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def _band_hashes(sig: "np.ndarray", num_bands: int) -> "np.ndarray":
    """(n × num_hashes) signature matrix → (n × num_bands) band-hash
    matrix: polynomial mix of each band's rows in uint64 wraparound.
    Any deterministic 64-bit mix works — bands are grouped on
    (band_id, band_hash), so cross-band collisions never merge."""
    n = sig.shape[0]
    bands = sig.reshape(n, num_bands, -1).astype(np.uint64)
    h = np.full((n, num_bands), np.uint64(1469598103934665603))  # FNV offset
    for r in range(bands.shape[2]):
        h = (h ^ bands[:, :, r]) * np.uint64(1099511628211)
    return h.view(np.int64)


def _shingle_sig_udf(shingle_k: int, num_hashes: int, seed: int, num_bands: int = 0):
    """text → struct(shingles array<bigint>, signature array<bigint>,
    bands array<bigint>).

    Byte-k-shingles packed directly into int64 (k ≤ 8 bytes — the
    shingle IS its own hash, no string materialization at all), then
    the MinHash signature via the affine family (a_i·h + b_i) mod p —
    one numpy outer-product per document, vectorized per Arrow batch.

    With ``num_bands`` > 0 the LSH band hashes are computed here too,
    as one vectorized mix over the signature matrix. The expression
    alternative (`H.lsh_bands`: transform + slice + cast-to-string +
    xxhash64) is a higher-order function, which Spark evaluates
    INTERPRETED per element (HOFs have no codegen) — profiled at >100
    CPU-s on a 5k-doc corpus vs milliseconds here.
    """
    assert shingle_k <= 8, "byte shingles pack into int64 only for k ≤ 8"
    if num_bands and num_hashes % num_bands:
        # fail fast on the driver: _band_hashes reshapes (n, bands, -1),
        # which silently requires equal-width bands — otherwise the
        # misconfiguration surfaces as an opaque executor reshape error
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by "
            f"num_bands ({num_bands}) for equal-width LSH bands"
        )
    rng = np.random.default_rng(seed)
    a = rng.integers(1, H.MINHASH_P, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, H.MINHASH_P, size=num_hashes, dtype=np.int64)

    @F.pandas_udf(
        "struct<shingles: array<bigint>, signature: array<bigint>, bands: array<bigint>>"
    )
    def f(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            # Whole-batch vectorization: one concatenated byte buffer, one
            # sliding-window pack, one lexsort dedup, 64 segmented mins —
            # no per-document numpy dispatch (which dominated at ~1.5 ms
            # per doc in the row-loop form).
            texts = [(t or "").encode("utf-8") for t in s]
            n_docs = len(texts)
            lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)
            nwin = np.maximum(lens - shingle_k + 1, 0)
            sh_out: list = [None] * n_docs
            sig_out: list = [None] * n_docs
            bnd_out: list = [None] * n_docs
            total = int(nwin.sum())
            if total > 0:
                buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
                w = np.lib.stride_tricks.sliding_window_view(buf, shingle_k)
                x = np.zeros(len(w), dtype=np.int64)
                for i in range(shingle_k):
                    x = (x << 8) | w[:, i].astype(np.int64)
                starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                # global buffer position of every in-document window
                pos = np.repeat(starts, nwin) + (
                    np.arange(total) - np.repeat(np.concatenate(([0], np.cumsum(nwin)))[:-1], nwin)
                )
                doc_of = np.repeat(np.arange(n_docs), nwin)
                sh_all = x[pos]
                order = np.lexsort((sh_all, doc_of))
                d_s, v_s = doc_of[order], sh_all[order]
                keep = np.ones(total, dtype=bool)
                keep[1:] = (d_s[1:] != d_s[:-1]) | (v_s[1:] != v_s[:-1])
                d_u, v_u = d_s[keep], v_s[keep]
                seg_starts = np.concatenate(
                    ([0], np.nonzero(d_u[1:] != d_u[:-1])[0] + 1)
                )
                hs = v_u % H.MINHASH_P
                # affine family per UNIQUE shingle value, gathered back
                # per occurrence (r14): byte shingles repeat massively
                # across a batch's docs (~200x on the gate corpus), so
                # the multiply+mod runs on the unique set; bit-identical
                # by construction (uu[inv] == hs)
                uu, inv = np.unique(hs, return_inverse=True)
                sig = np.empty((len(seg_starts), num_hashes), dtype=np.int64)
                for j in range(num_hashes):
                    sig[:, j] = np.minimum.reduceat(
                        ((uu * a[j] + b[j]) % H.MINHASH_P)[inv], seg_starts)
                bounds = np.append(seg_starts[1:], len(v_u))
                seg_docs = d_u[seg_starts]
                bnd = _band_hashes(sig, num_bands) if num_bands else None
                for si, d in enumerate(seg_docs):
                    sh_out[d] = v_u[seg_starts[si]:bounds[si]]
                    sig_out[d] = sig[si]
                    if bnd is not None:
                        bnd_out[d] = bnd[si]
            yield pd.DataFrame({"shingles": sh_out, "signature": sig_out, "bands": bnd_out})

    return f


def _screen_pairs_map(num_hashes: int, keep_min: float, max_width: int,
                      cross_side: bool = False):
    """mapInPandas generator: bucket-sorted (band_id, band_hash, id,
    signature[, side]) rows → screened candidate pairs (id_a, id_b).

    Runs over partitions that are hash-partitioned AND sorted by the
    bucket key, so buckets are contiguous; a bucket spanning Arrow
    batches is carried over in a small buffer. Per bucket the
    signature-agreement screen is one (w × w × k) vectorized compare —
    the expression form (nested transform/flatten/zip_with lambdas) is
    interpreted per element by Spark and profiled 50-100× slower.

    ``cross_side=True`` is the A×B join form: rows carry a ``side``
    column (0 = A, 1 = B), only cross-side pairs are emitted, id_a
    always from A, and the screen compares the A block against the B
    block only (w_A × w_B × k instead of w²·k).

    Buckets wider than ``max_width`` degrade to star pairing against
    the min-id member (min A member in cross mode), UNFILTERED
    (connectivity contract — see
    functions/hashing.py::bucket_member_pairs).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def emit(df: pd.DataFrame) -> pd.DataFrame:
            ids_all = df["id"].to_numpy()
            sides_all = df["side"].to_numpy() if cross_side else None
            keys = (df["band_id"].to_numpy(), df["band_hash"].to_numpy())
            # bucket boundaries over the sorted stream
            change = np.ones(len(df), dtype=bool)
            change[1:] = (keys[0][1:] != keys[0][:-1]) | (keys[1][1:] != keys[1][:-1])
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], len(df))
            out_a: list = []
            out_b: list = []
            for s, e in zip(starts, ends):
                w = e - s
                if w < 2:
                    continue
                ids = ids_all[s:e]
                if cross_side:
                    sides = sides_all[s:e]
                    order = np.lexsort((ids, sides))
                    ids, sides = ids[order], sides[order]
                    n_a = int((sides == 0).sum())
                    if n_a == 0 or n_a == w:
                        continue
                    if w > max_width:
                        # star: min A member against every B member
                        out_a.append(np.full(w - n_a, ids[0]))
                        out_b.append(ids[n_a:])
                        continue
                    sig = np.vstack(df["signature"].to_numpy()[s:e][order])
                    agree = (sig[:n_a, None, :] == sig[None, n_a:, :]).sum(axis=2)
                    ia, ib = np.nonzero(agree >= keep_min * num_hashes)
                    out_a.append(ids[ia])
                    out_b.append(ids[n_a + ib])
                    continue
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                if w > max_width:
                    # star pairing, unfiltered (connectivity candidates)
                    out_a.append(np.full(w - 1, ids[0]))
                    out_b.append(ids[1:])
                    continue
                sig = np.vstack(df["signature"].to_numpy()[s:e][order])
                agree = (sig[:, None, :] == sig[None, :, :]).sum(axis=2)
                ia, ib = np.nonzero(
                    np.triu(agree >= keep_min * num_hashes, k=1)
                )
                out_a.append(ids[ia])
                out_b.append(ids[ib])
            if out_a:
                return pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64)})

        for batch in batches:
            if len(batch) == 0:
                continue
            if buf is not None:
                batch = pd.concat([buf, batch], ignore_index=True)
            # hold back the trailing (possibly incomplete) bucket
            bk = (batch["band_id"].iloc[-1], batch["band_hash"].iloc[-1])
            tail_mask = (batch["band_id"] == bk[0]) & (batch["band_hash"] == bk[1])
            tail_start = int(np.nonzero(~tail_mask.to_numpy())[0][-1] + 1) if (~tail_mask).any() else 0
            buf = batch.iloc[tail_start:]
            head = batch.iloc[:tail_start]
            if len(head):
                yield emit(head)
        if buf is not None and len(buf):
            yield emit(buf)

    return gen


def minhash_candidate_pairs(
    feats: DataFrame,
    id_col: str,
    num_hashes: int,
    num_bands: int,
    keep_min: float,
    max_width: int = 512,
) -> DataFrame:
    """(id, signature, bands) → screened candidate pairs (id_a, id_b),
    deduped.

    Shape: posexplode(bands) [map] → hash-repartition + in-partition
    sort on the bucket key [ONE shuffle] → vectorized numpy screen
    [map] → pair dedup groupBy [shuffle, pair-count-sized]. Identical
    data movement to the collect_list/HOF form it replaces, but both
    the banding and the w²·k screen run at numpy speed instead of
    Spark's interpreted higher-order-function evaluator.
    """
    side = [F.col("side")] if "side" in feats.columns else []
    exploded = feats.select(
        F.col(id_col).alias("id"),
        F.col("signature"),
        *side,
        F.posexplode("bands").alias("band_id", "band_hash"),
    ).select("band_id", "band_hash", "id", "signature", *side)
    parted = exploded.repartition("band_id", "band_hash").sortWithinPartitions(
        "band_id", "band_hash"
    )
    pairs = parted.mapInPandas(
        _screen_pairs_map(num_hashes, keep_min, max_width, cross_side=bool(side)),
        schema="id_a long, id_b long",
    )
    return pairs.distinct()


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH with exact-Jaccard verify.

    Pipeline: byte-k-shingles + 64-value MinHash signature + 16 band
    hashes in ONE vectorized Arrow-batched map stage (no shuffle) →
    posexplode(bands) → bucket-key repartition + in-partition sort
    [one shuffle] → numpy in-bucket pair generation with the
    signature-agreement screen (:func:`minhash_candidate_pairs`) →
    pair-dedup → exact Jaccard (long-array set ops, codegen) via a
    shingle join on survivors only.
    Output: (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Why numpy for banding + screen: Spark higher-order functions
    (transform/flatten/zip_with) have no codegen — they evaluate
    interpreted per array element. The expression form of band
    hashing + in-bucket pair screening profiled at 150-300 CPU-s on a
    5k-doc corpus; the vectorized form is <2 CPU-s for identical data
    movement (same shuffle count, same payload bytes).

    The signature-agreement screen estimates Jaccard from 64 hash
    equalities (an unbiased Bin(k, J)/k estimator) and drops
    candidates more than 3σ below the threshold, so the exact set
    intersection touches ~|true pairs| rows, not ~|band collisions|.
    """
    from pyspark import StorageLevel

    # The signature stage is the CPU hot spot; when the scan
    # under-splits (one small parquet file → 1-2 input partitions) the
    # UDF runs on 2 of N cores. Rebalance only in that case — at
    # cluster scale the scan splits per ~128 MB and this is a no-op.
    feats = (
        rebalance_if_narrow(df)
        .select(
            F.col(id_col),
            _shingle_sig_udf(shingle_k, num_hashes, seed, num_bands)(F.col(text_col)).alias("_f"),
        )
        .select(
            id_col,
            F.col("_f.shingles").alias("shingles"),
            F.col("_f.signature").alias("signature"),
            F.col("_f.bands").alias("bands"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize before fan-out: the banding stage and the shingle
    # verify join both consume `feats`; computed concurrently inside one
    # job they race cache population and each re-runs the
    # scan→shingle→signature lineage. One eager pass fills the cache.
    #
    # The too-short-doc filter sits ABOVE the persist, not inside the
    # cached lineage: a filter on the UDF output below a repartition
    # exchange gets predicate-pushed past the exchange, and because the
    # predicate references udf(text), the UDF is re-evaluated per
    # branch just to test it — the whole signature stage ran TWICE
    # (observed as duplicate ArrowEvalPython nodes under each union
    # branch). Filtering the cached rows costs one null check.
    feats.count()
    feats = feats.filter(F.col("shingles").isNotNull())
    margin = 3.0 * math.sqrt(0.25 / num_hashes)
    screened = minhash_candidate_pairs(
        feats, id_col, num_hashes, num_bands, keep_min=threshold - margin
    )
    sh_a = feats.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = feats.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    # broadcast the TINY side (screened candidates, ~|true pairs|
    # rows), not the shingle tables: left to its size estimates, AQE
    # broadcast the full shingle arrays (tens of MB at sf0.1, corpus-
    # scale at 100 TB — an impossible build) and then probed them in
    # ONE post-coalesce task — measured 3.0 s of a 4.1 s warm wall in
    # the r12 stage evidence (stage 853). Only the BARE pairs are ever
    # broadcast (see _attach_pair_payloads); the verify scales with
    # the corpus, never the broadcast.
    pairs = (
        _attach_pair_payloads(screened, sh_a, sh_b)
        .select("id_a", "id_b", H.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return _pair_order(pairs)


def _minhash_side_feats(df, sig, text_col: str, id_col: str, side: int):
    """Side-tagged (id, side, shingles, signature, bands) feature frame —
    the shared input shape of the two-frame screen."""
    return (
        rebalance_if_narrow(df)
        .select(F.col(id_col), sig(F.col(text_col)).alias("_f"))
        .select(
            F.col(id_col).alias("id"),
            F.lit(side).alias("side"),
            F.col("_f.shingles").alias("shingles"),
            F.col("_f.signature").alias("signature"),
            F.col("_f.bands").alias("bands"),
        )
    )


def _cross_screen_verify(
    a_ok, b_ok, num_hashes: int, num_bands: int, threshold: float
):
    """Side-tagged band screen + exact-Jaccard verify — the ONE home for
    the screen margin and verify policy, shared by
    :func:`minhash_similarity_join` and :func:`minhash_incremental` (the
    LSH gates check this exact pipeline; a second copy could silently
    diverge). Inputs are already-null-filtered feature frames; output is
    (id_a, id_b, jaccard) with id_a from the side-0 frame."""
    margin = 3.0 * math.sqrt(0.25 / num_hashes)
    screened = minhash_candidate_pairs(
        a_ok.unionAll(b_ok), "id", num_hashes, num_bands,
        keep_min=threshold - margin,
    )
    sh_a = a_ok.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = b_ok.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        _attach_pair_payloads(screened, sh_a, sh_b)
        .select("id_a", "id_b", H.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_similarity_join(
    dfA: DataFrame,
    dfB: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Two-frame approximate similarity join on text: pairs (a ∈ A,
    b ∈ B) with exact Jaccard ≥ threshold, candidates via shared LSH
    bands (`approxSimilarityJoin(dfA, dfB, τ)` in MLlib terms —
    SURVEY.md §2.10).

    Spark shape: both frames go through the SAME vectorized
    shingle+signature+bands map stage, side-tagged and unioned — so
    banding + bucket grouping + in-bucket pair generation is ONE
    machine, not a join of two. The numpy bucket screen
    (:func:`_screen_pairs_map` in cross mode) sorts each bucket's
    members (side, id), compares the A block against the B block only,
    and emits cross-side pairs already (A, B)-oriented. Verify: exact
    Jaccard via shingle joins against each side's feature frame,
    survivors only. Integral ids required (the pair schema is long).

    Output: (id_a, id_b, jaccard), id_a from A, id_b from B.
    """
    sig = _shingle_sig_udf(shingle_k, num_hashes, seed, num_bands)

    from pyspark import StorageLevel

    level = StorageLevel.MEMORY_AND_DISK
    fa = _minhash_side_feats(dfA, sig, text_col, id_col, 0).persist(level)
    fb = _minhash_side_feats(dfB, sig, text_col, id_col, 1).persist(level)
    fa.count(), fb.count()  # one eager pass each: banding + verify both consume
    fa_ok = fa.filter(F.col("shingles").isNotNull())
    fb_ok = fb.filter(F.col("shingles").isNotNull())
    return _cross_screen_verify(
        fa_ok, fb_ok, num_hashes, num_bands, threshold
    ).transform(_pair_order)


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    max_width: int = 512,
) -> DataFrame:
    """One-row skew diagnostics for the minhash LSH banding stage
    (n_buckets, max_bucket_width, n_over_width, candidate_pairs) — bench
    logs these so bucket skew is visible in the per-round artifacts."""
    banded = (
        df.select(
            F.col(id_col),
            _shingle_sig_udf(shingle_k, num_hashes, seed, num_bands)(F.col(text_col)).alias("_f"),
        )
        .select(id_col, F.col("_f.bands").alias("_bh"))
        .filter(F.col("_bh").isNotNull())
        .select(
            id_col,
            F.transform(
                F.col("_bh"),
                lambda h, i: F.struct(i.alias("band_id"), h.alias("band_hash")),
            ).alias("bands"),
        )
    )
    return H.bucket_width_stats(banded, id_col, "bands", max_width)


def simhash_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 64
) -> DataFrame:
    """(id, text) → (id, fp BIGINT): 64-bit SimHash, packed.

    Scale shape: explode lowercased tokens, hash each token ONCE
    (xxhash64), then one groupBy(id) with ``n_bits`` codegen'd
    shift-mask sign-sums (partial aggregation map-side, shuffle rows
    are (id, 64 longs)). This stays inside whole-stage codegen end to
    end — the higher-order-function alternative evaluates interpreted
    and was the operator's CPU hot spot (64 string hashes per token).
    Bit i of fp = sign of Σ_tokens (2·bit_i(xxhash64(token)) − 1).
    Docs with no tokens produce no row (they cannot pair anyway).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(X.tokens(text_col), lambda t: F.lower(t))).alias("tok"),
    ).select(F.col(id_col), F.xxhash64("tok").alias("h"))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(n_bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), fp.alias("fp"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by 64-bit SimHash (packed-long form).

    Candidates: cut the fingerprint into 4 16-bit chunks and bucket by
    chunk value — by pigeonhole, every pair with Hamming ≤ 3 shares at
    least one chunk. The whole operator is: codegen fingerprint (one
    groupBy) → chunk-bucket shuffle of (id, fp) 16-byte rows, sorted →
    one vectorized mapInPandas that expands in-bucket pairs and
    verifies Hamming as a whole-block XOR + SWAR popcount
    (:func:`_simhash_pairs_map`) → pair-dedup groupBy. Three shuffles,
    zero joins, nothing persisted.

    The previous collect_list + in-array-expression form evaluated the
    pair expansion INTERPRETED (nested HOFs have no codegen — the
    defect class tools/scale_smoke.py caught in the embedding-LSH path,
    where it was profiled at 90 s for 1.3M candidates); 16-bit chunk
    buckets grow linearly wide with the corpus, so the interpreted w²
    expansion is exactly what degrades first at scale. Measured with
    the vectorized screen: 12 s cold / 4 s warm at 80k zipfian docs.
    Output: (id_a, id_b, hamming).
    """
    sh = simhash_fingerprint(df, text_col, id_col)
    return hamming_neardup_pairs(sh, id_col=id_col, max_hamming=max_hamming)


def hamming_neardup_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
) -> DataFrame:
    """The fingerprint-agnostic core of :func:`simhash_near_dup_pairs`:
    near-dup pairs over ANY 64-bit fingerprint column (text SimHash,
    image average-hash — operators/multimodal.py::image_ahash, audio
    envelope hash). Same chunk-bucket candidates (pigeonhole: Hamming
    ≤ 3 shares one of 4 16-bit chunks; wider budgets trade recall per
    the simhash analysis) and the same vectorized XOR+popcount verify.
    Input: (id_col, fp_col) with fp as a packed signed long.
    Output: (id_a, id_b, hamming)."""
    sh = fp_df.select(F.col(id_col), F.col(fp_col).alias("fp"))
    chunks = [
        F.shiftrightunsigned(F.col("fp"), 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("long")
        for i in range(4)
    ]
    flat = sh.select(
        F.col(id_col).alias("id"), "fp",
        F.posexplode(F.array(*chunks)).alias("band_id", "band_hash"),
    )
    part = flat.repartition(F.col("band_id"), F.col("band_hash")).sortWithinPartitions(
        "band_id", "band_hash", "id"
    )
    id_t = fp_df.schema[id_col].dataType.simpleString()
    return (
        part.mapInPandas(
            _simhash_pairs_map(max_hamming, max_width=512),
            f"id_a {id_t}, id_b {id_t}, hamming int",
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
        .transform(_pair_order)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    block_col: str | None = None,
) -> DataFrame:
    """Token-n-gram Jaccard similarity pairs, optionally blocked.

    Without a block column this is all-pairs — only for small frames or
    as the verify stage after LSH. With ``block_col`` (e.g. a coarse
    cluster/source/language), the join is per-block.

    Grams cross the join as 48-bit md5 hashes, not strings: the gram
    build is explode → codegen md5 → collect_set (one doc-keyed
    shuffle), and the per-pair set intersection works on int64 arrays —
    string gram arrays hashed per pair made the pair stage the
    operator's hot spot. Jaccard is exact modulo 48-bit collisions
    (~10⁻⁸ per gram pair; the near-dup decision is unaffected).
    """
    blk = [F.col(block_col)] if block_col else []
    grams = (
        df.select(
            F.col(id_col),
            *blk,
            F.explode(F.array_distinct(X.token_shingles(text_col, n))).alias("_g"),
        )
        .select(F.col(id_col), *blk, X.md5_hash48(F.col("_g")).alias("_gh"))
        .groupBy(id_col, *([block_col] if block_col else []))
        .agg(F.array_sort(F.collect_set("_gh")).alias("grams"))
        .filter(F.size("grams") > 0)
    )
    a, b = grams.alias("a"), grams.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            H.jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .transform(_pair_order)
    )


def ngram_jaccard_pairs_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    materialize: bool = True,
) -> DataFrame:
    """Scale path for token-n-gram Jaccard: MinHash-LSH banding over the
    hashed gram sets for candidates, exact Jaccard verify on the true
    gram arrays — candidates ∝ collisions, never a block-quadratic
    join (the blocked exact form, :func:`ngram_jaccard_pairs`, is
    quadratic WITHIN each block, which at corpus scale is only sane for
    genuinely small blocks).

    Shapes reused wholesale: grams are 48-bit md5 ints (one doc-keyed
    collect_set shuffle); the signature is the affine MinHash family
    applied to each doc's gram array in one whole-batch numpy pass —
    flat (id, band_id, band_hash) rows out, no Arrow list columns; the
    candidate expansion is the bucket-sorted vectorized map
    (:func:`_bucket_pairs_map`); verify joins the gram arrays back on
    the deduped candidates and computes exact Jaccard as codegen
    array_intersect/union. Output: (id_a, id_b, jaccard).

    The gram frame feeds THREE consumers (signatures + both verify
    sides) and Catalyst does not reuse its exchange across them, so
    ``materialize=True`` (default) persists it for the run and follows
    the minhash_incremental convention: the (pair-sized) output is
    persisted and counted, the gram intermediate released — measured
    2x warm speedup at sf0.1. Long-lived callers may .unpersist() the
    returned frame; ``materialize=False`` keeps the plan fully lazy
    (the gram aggregation simply runs three times).
    """
    from pyspark import StorageLevel

    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by "
            f"num_bands ({num_bands}) for equal-width LSH bands"
        )
    # the tokenize/shingle/md5 explode is the CPU hot spot; an
    # under-split scan (one small parquet file → 1-2 input partitions)
    # ran it on 1 of N cores (r12 stage evidence: 2.4 s single-task of
    # a 4.0 s wall). Same guard as minhash_near_dup_pairs; a no-op at
    # cluster scale where the scan splits per ~128 MB.
    grams = (
        rebalance_if_narrow(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(X.token_shingles(text_col, n))).alias("_g"),
        )
        .select(F.col(id_col), X.md5_hash48(F.col("_g")).alias("_gh"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_gh")).alias("grams"))
        .filter(F.size("grams") > 0)
    )
    if materialize:
        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        # NO eager grams.count() here, deliberately (tried r14, VERDICT
        # r13 item 7): unlike minhash_near_dup_pairs (whose banding and
        # verify race the cache in ONE job), the first action under
        # this plan fills the gram cache on its first pass and the
        # lazy form OVERLAPS the fill with the banding stages; an
        # eager pass serializes it and measured ~1 s SLOWER at sf0.1
        # (split_leakage_check 2.53 → 3.53 s warm-min, same-session
        # A/B; ngram_jaccard_lsh 0.58 → 0.95 s).
    rng = np.random.default_rng(seed)
    a_coef = rng.integers(1, H.MINHASH_P, size=num_hashes, dtype=np.int64)
    b_coef = rng.integers(0, H.MINHASH_P, size=num_hashes, dtype=np.int64)
    id_t = df.schema[id_col].dataType.simpleString()
    tbl = np.arange(num_bands, dtype=np.int32)

    def flat_gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["_id"].to_numpy()
            arrs = pdf["grams"].to_numpy()
            lens = np.fromiter((len(g) for g in arrs), dtype=np.int64, count=len(arrs))
            flat = np.concatenate([np.asarray(g, dtype=np.int64) for g in arrs])
            # reduce the 48-bit gram hashes into the field FIRST (matching
            # hashing.py's signature stage): 2^48 × 2^31 coefficients would
            # overflow int64 and silently wrap, leaving the universal-affine
            # collision guarantees behind
            flat = flat % H.MINHASH_P
            # affine family per UNIQUE gram, gathered back to every
            # occurrence (r14): grams repeat across a batch's docs
            # (~4x on the gate corpus), so hashing uniques cuts the
            # dominant multiply+mod by the duplication factor — values
            # are bit-identical by construction (u[inv] == flat), and
            # the segmented min consumes the same per-occurrence rows
            u, inv = np.unique(flat, return_inverse=True)
            hu = (u[:, None] * a_coef[None, :] + b_coef[None, :]) % H.MINHASH_P
            hv = hu[inv]
            bounds = np.concatenate(([0], np.cumsum(lens)))
            sig = np.minimum.reduceat(hv, bounds[:-1], axis=0)
            bands = _band_hashes(sig, num_bands)
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, num_bands),
                    "band_id": np.tile(tbl, len(ids)),
                    "band_hash": bands.ravel(),
                }
            )

    flat = grams.select(F.col(id_col).alias("_id"), "grams").mapInPandas(
        flat_gen, f"id {id_t}, band_id int, band_hash long"
    )
    part = flat.repartition(F.col("band_id"), F.col("band_hash")).sortWithinPartitions(
        "band_id", "band_hash", "id"
    )
    cand = (
        part.mapInPandas(_bucket_pairs_map(max_width=512), f"id_a {id_t}, id_b {id_t}")
        .distinct()
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("_ga"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("_gb"))
    out = (
        _attach_pair_payloads(cand, ga, gb)
        .select("id_a", "id_b", H.jaccard(F.col("_ga"), F.col("_gb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .transform(_pair_order)
    )
    if materialize:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        grams.unpersist()
    return out


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ threshold.

    With ``block_col`` the join is blocked (per label/cluster); the
    unblocked scale path is :func:`embedding_neardup_pairs_lsh`.
    Output: (id_a, id_b, cosine). Pass ``dim`` when known so the
    cosine runs as the unrolled codegen sum.
    """
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col),
        *([F.col(block_col)] if block_col else []),
    )
    a, b = e.alias("a"), e.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    sim = V.cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), dim)
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .transform(_pair_order)
    )


def lsh_tables_for(threshold: float, num_planes: int, target_recall: float = 0.95) -> int:
    """Number of hash tables so a pair at exactly ``threshold`` cosine is
    recalled with probability ≥ ``target_recall``.

    Sign-LSH collision probability per plane is s = 1 − θ/π
    (Goemans–Williamson); a table of r planes matches with s^r, and b
    independent tables recall 1 − (1−s^r)^b. Solving for b makes the
    operator honest about its regime: high thresholds (≥0.8) need a few
    dozen tables; moderate ones (≤0.5) would need hundreds — at that
    point use the exact blocked path or an IVF-blocked join instead.
    """
    s = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_table = s**num_planes
    if p_table >= 1.0:
        return 1
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table))
    return max(1, min(b, 256))


def lsh_planes_for(n: int, threshold: float, target_recall: float = 0.95) -> int:
    """Adaptive band width: planes per table scaling with corpus size.

    Why r must grow with n: a FIXED r makes expected random-pair
    collisions grow ~ n²·(1/2)^r — the verify join's candidate set (the
    dominant cost) is quadratic in the corpus. r ≈ log₂(n) + 3 keeps
    per-table collisions per vector roughly constant (the standard LSH
    sizing), so candidates grow ~linearly instead. Measured at 80k
    random dim-64 vectors, θ=0.85: r=16/b=66 → ~3.2M candidates;
    r=20/b=141 → ~0.4M.

    The trade: each extra plane cuts a true pair's per-table match
    probability by s, so ``lsh_tables_for`` needs more tables to hold
    ``target_recall`` — and tables are capped at 256. r is therefore
    clamped to the largest width whose required table count still fits
    the cap (beyond that, more selectivity would silently cost recall);
    the floor of 16 keeps small-corpus behavior identical to the old
    fixed default.
    """
    want = max(16, math.ceil(math.log2(max(n, 2))) + 3)
    r = 16
    while r < want and lsh_tables_for(threshold, r + 1, target_recall) < 256:
        r += 1
    return r


def _embedding_lsh_buckets(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    num_planes: int | None,
    num_tables: int | None,
    target_recall: float,
    seed: int,
    dim: int | None,
    flat: bool = False,
    flat_side_col: str | None = None,
) -> DataFrame | None:
    """(id, vec) → (id, vec, bands) via the sign-LSH sketch — or, with
    ``flat=True``, exploded (id, band_id, band_hash) rows (the pairs
    operator's shape; skips the per-element struct HOF). None on an
    empty frame when ``dim`` can't be inferred. Shared by the pairs
    operator and the bench bucket-stats diagnostic.

    ``num_planes=None`` → adaptive width (:func:`lsh_planes_for`, one
    count job to size it); pass an int to pin the band width."""
    if num_planes is None:
        num_planes = lsh_planes_for(embeddings.count(), threshold, target_recall)
    if num_tables is None:
        num_tables = lsh_tables_for(threshold, num_planes, target_recall)
    if dim is None:
        probe = embeddings.select(vec_col).head()
        if probe is None:
            return None
        dim = len(probe[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables * num_planes, dim))
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sketch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            m = np.vstack(s.to_numpy())                       # n × dim
            signs = (m @ planes.T) >= 0.0                     # n × (b·r)
            hashes = signs.reshape(len(m), num_tables, num_planes) @ weights
            yield pd.Series(list(hashes))

    vec = F.col(vec_col).cast("array<double>")
    if flat:
        # (id, band_id, band_hash) rows emitted DIRECTLY from numpy in
        # one mapInPandas — the sketch-to-array + posexplode alternative
        # materializes n·tables Python ints through the Arrow list
        # column (profiled ~20s of the 24s sketch stage at 80k × 141
        # tables); here every output column is a flat numpy array.
        id_t = embeddings.schema[id_col].dataType.simpleString()
        with_side = flat_side_col is not None

        def flat_gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tbl = np.arange(num_tables, dtype=np.int32)
            for pdf in it:
                ids = pdf["_id"].to_numpy()
                m = np.vstack(pdf["_v"].to_numpy())
                signs = (m @ planes.T) >= 0.0
                hashes = signs.reshape(len(m), num_tables, num_planes) @ weights
                out = {
                    "id": np.repeat(ids, num_tables),
                    "band_id": np.tile(tbl, len(m)),
                    "band_hash": hashes.ravel(),
                }
                if with_side:
                    out["side"] = np.repeat(
                        pdf["_side"].to_numpy().astype(np.int32), num_tables
                    )
                yield pd.DataFrame(out)

        cols = [F.col(id_col).alias("_id"), vec.alias("_v")]
        schema = f"id {id_t}, band_id int, band_hash long"
        if with_side:
            cols.append(F.col(flat_side_col).alias("_side"))
            schema += ", side int"
        return rebalance_if_narrow(embeddings).select(
            *cols
        ).mapInPandas(flat_gen, schema)
    sketched = rebalance_if_narrow(embeddings).select(
        F.col(id_col), vec.alias(vec_col), sketch(vec).alias("_sk")
    )
    return sketched.select(
        id_col, vec_col,
        F.transform(
            F.col("_sk"),
            lambda h, i: F.struct(i.alias("band_id"), h.alias("band_hash")),
        ).alias("bands"),
    )


def _bucket_pairs_map(max_width: int):
    """mapInPandas generator: bucket-sorted (band_id, band_hash, id)
    rows → within-bucket candidate id pairs, vectorized.

    The collect_list + nested-transform expression alternative
    (functions/hashing.py::bucket_member_pairs) evaluates the pair
    expansion INTERPRETED (HOFs have no codegen) — profiled 90s for
    1.3M candidates over 1M buckets at 80k vectors, vs seconds here.
    Same contract: buckets wider than ``max_width`` degrade to star
    pairing against the min-id member (connectivity candidates).
    Requires the input hash-partitioned AND sorted by
    (band_id, band_hash); a bucket spanning Arrow batches is carried
    over in a buffer, id order inside a bucket follows the sort.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def emit(df: pd.DataFrame) -> pd.DataFrame:
            ids_all = df["id"].to_numpy()
            b1 = df["band_id"].to_numpy()
            b2 = df["band_hash"].to_numpy()
            change = np.ones(len(df), dtype=bool)
            change[1:] = (b1[1:] != b1[:-1]) | (b2[1:] != b2[:-1])
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], len(df))
            out_a: list = []
            out_b: list = []
            for s, e in zip(starts, ends):
                w = e - s
                if w < 2:
                    continue
                ids = ids_all[s:e]
                if w > max_width:
                    out_a.append(np.full(w - 1, ids[0]))
                    out_b.append(ids[1:])
                else:
                    ia, ib = np.triu_indices(w, k=1)
                    out_a.append(ids[ia])
                    out_b.append(ids[ib])
            if out_a:
                return pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )
            return pd.DataFrame(
                {"id_a": np.array([], dtype=np.int64),
                 "id_b": np.array([], dtype=np.int64)}
            )

        for batch in batches:
            if len(batch) == 0:
                continue
            if buf is not None:
                batch = pd.concat([buf, batch], ignore_index=True)
            bk = (batch["band_id"].iloc[-1], batch["band_hash"].iloc[-1])
            tail_mask = (batch["band_id"] == bk[0]) & (batch["band_hash"] == bk[1])
            tail_start = (
                int(np.nonzero(~tail_mask.to_numpy())[0][-1] + 1)
                if (~tail_mask).any()
                else 0
            )
            buf = batch.iloc[tail_start:]
            head = batch.iloc[:tail_start]
            if len(head):
                yield emit(head)
        if buf is not None and len(buf):
            yield emit(buf)

    return gen


_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def _popcount64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized SWAR popcount on uint64 (numpy < 2 has no
    bitwise_count)."""
    x = x - ((x >> np.uint64(1)) & _M1)
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return (x * _H01) >> np.uint64(56)


def _cross_pairs_map(max_width: int):
    """mapInPandas generator: bucket-sorted (band_id, band_hash, id,
    side) rows → cross-side candidate pairs (id_a from side 0, id_b
    from side 1), vectorized — the A×B analog of
    :func:`_bucket_pairs_map`. Over-wide buckets degrade to star
    pairing: min A member against every B member."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def emit(df: pd.DataFrame) -> pd.DataFrame:
            ids_all = df["id"].to_numpy()
            sides_all = df["side"].to_numpy()
            b1 = df["band_id"].to_numpy()
            b2 = df["band_hash"].to_numpy()
            change = np.ones(len(df), dtype=bool)
            change[1:] = (b1[1:] != b1[:-1]) | (b2[1:] != b2[:-1])
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], len(df))
            out_a: list = []
            out_b: list = []
            for s, e in zip(starts, ends):
                w = e - s
                if w < 2:
                    continue
                ids = ids_all[s:e]
                sides = sides_all[s:e]
                order = np.lexsort((ids, sides))
                ids, sides = ids[order], sides[order]
                n_a = int((sides == 0).sum())
                if n_a == 0 or n_a == w:
                    continue
                if w > max_width:
                    out_a.append(np.full(w - n_a, ids[0]))
                    out_b.append(ids[n_a:])
                else:
                    ia, ib = np.meshgrid(
                        np.arange(n_a), np.arange(n_a, w), indexing="ij"
                    )
                    out_a.append(ids[ia.ravel()])
                    out_b.append(ids[ib.ravel()])
            if out_a:
                return pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )
            return pd.DataFrame(
                {"id_a": np.array([], dtype=np.int64),
                 "id_b": np.array([], dtype=np.int64)}
            )

        for batch in batches:
            if len(batch) == 0:
                continue
            if buf is not None:
                batch = pd.concat([buf, batch], ignore_index=True)
            bk = (batch["band_id"].iloc[-1], batch["band_hash"].iloc[-1])
            tail_mask = (batch["band_id"] == bk[0]) & (batch["band_hash"] == bk[1])
            tail_start = (
                int(np.nonzero(~tail_mask.to_numpy())[0][-1] + 1)
                if (~tail_mask).any()
                else 0
            )
            buf = batch.iloc[tail_start:]
            head = batch.iloc[:tail_start]
            if len(head):
                yield emit(head)
        if buf is not None and len(buf):
            yield emit(buf)

    return gen


def _simhash_pairs_map(max_hamming: int, max_width: int):
    """mapInPandas generator: bucket-sorted (band_id, band_hash, id, fp)
    rows → (id_a, id_b, hamming) pairs with Hamming ≤ ``max_hamming``,
    verified vectorized (XOR + SWAR popcount on the whole pair block).

    Same sorted-stream shape as :func:`_bucket_pairs_map`; over-wide
    buckets degrade to star pairing against the min-id member (the
    final Hamming bound applies to star pairs too — this operator's
    public contract filters on the bound, it is not a connectivity
    feed).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def emit(df: pd.DataFrame) -> pd.DataFrame:
            ids_all = df["id"].to_numpy()
            fps_all = df["fp"].to_numpy().astype(np.int64).view(np.uint64)
            b1 = df["band_id"].to_numpy()
            b2 = df["band_hash"].to_numpy()
            change = np.ones(len(df), dtype=bool)
            change[1:] = (b1[1:] != b1[:-1]) | (b2[1:] != b2[:-1])
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], len(df))
            out_a: list = []
            out_b: list = []
            out_h: list = []
            for s, e in zip(starts, ends):
                w = e - s
                if w < 2:
                    continue
                ids = ids_all[s:e]
                fps = fps_all[s:e]
                if w > max_width:
                    ia = np.zeros(w - 1, dtype=np.int64)
                    ib = np.arange(1, w)
                else:
                    ia, ib = np.triu_indices(w, k=1)
                ham = _popcount64(fps[ia] ^ fps[ib]).astype(np.int32)
                keep = ham <= max_hamming
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
                out_h.append(ham[keep])
            if out_a:
                return pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "hamming": np.concatenate(out_h),
                    }
                )
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "hamming": np.array([], dtype=np.int32),
                }
            )

        for batch in batches:
            if len(batch) == 0:
                continue
            if buf is not None:
                batch = pd.concat([buf, batch], ignore_index=True)
            bk = (batch["band_id"].iloc[-1], batch["band_hash"].iloc[-1])
            tail_mask = (batch["band_id"] == bk[0]) & (batch["band_hash"] == bk[1])
            tail_start = (
                int(np.nonzero(~tail_mask.to_numpy())[0][-1] + 1)
                if (~tail_mask).any()
                else 0
            )
            buf = batch.iloc[tail_start:]
            head = batch.iloc[:tail_start]
            if len(head):
                yield emit(head)
        if buf is not None and len(buf):
            yield emit(buf)

    return gen


def embedding_lsh_bucket_stats(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    num_tables: int | None = None,
    target_recall: float = 0.95,
    seed: int = 42,
    dim: int | None = None,
    max_width: int = 512,
) -> DataFrame:
    """One-row skew diagnostics for the sign-LSH bucketing stage."""
    with_buckets = _embedding_lsh_buckets(
        embeddings, threshold, id_col, vec_col, num_planes, num_tables,
        target_recall, seed, dim,
    )
    if with_buckets is None:
        return embeddings.sparkSession.createDataFrame(
            [(0, None, 0, 0)],
            "n_buckets long, max_bucket_width long, n_over_width long, candidate_pairs long",
        )
    return H.bucket_width_stats(with_buckets, id_col, "bands", max_width)


def embedding_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    num_tables: int | None = None,
    target_recall: float = 0.95,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH near-dup pairs: random-hyperplane bucketing, then exact
    cosine verify on bucket-colliding pairs only.

    At FIXED recall the required table count grows ~n^0.28, so this
    form is superlinear in corpus size (measured 444.9 s vs 96.5 s at
    1M, SMOKE_r12); corpus-scale users should prefer
    :func:`embedding_neardup_pairs_clustered`, which is linear in n at
    fixed block size and produces the identical pair set (the
    always-empty clustered-vs-exact diff gate pins it).

    ``num_tables`` defaults to the count that achieves ``target_recall``
    at the given threshold (:func:`lsh_tables_for`). A pair is a
    candidate if all ``num_planes`` signs match in ANY table; precision
    is 1.0 by construction (exact verify), recall is the tunable.

    The sketch stage is a vectorized Arrow-batched pandas UDF — one
    (batch × dim) @ (dim × tables·planes) matmul per Arrow batch. The
    expression-per-plane alternative builds a tables·planes-subexpression
    plan that overflows whole-stage codegen and runs interpreted; a
    single BLAS matmul is the 100 TB shape (map-only, no shuffle).

    The bucket shuffle carries IDS ONLY, and the exact-cosine verify is
    a join back to the vector table on the deduped candidate set. The
    alternative (vectors ride in the member structs, verify in-bucket,
    zero joins — how the MinHash path works) is wrong HERE because the
    recall target needs ~66 hash tables at θ=0.85: payload-in-bucket
    shuffles tables × corpus × vec bytes (≈ 2 GB at sf0.1, ≈ 33× the
    corpus; catastrophic at 100 TB), while id-only shuffles 16-byte
    rows and the join touches |candidates| ≈ |true pairs| rows, which
    AQE broadcasts against the vector scan. MinHash keeps the fused
    form because its 16 bands make payload × bands ≈ 1× corpus.

    ``dim`` should be passed by callers that know it (an extra Spark
    job to probe it is wasted work, and ``head()`` on an empty frame
    has nothing to probe); when omitted it is inferred, and an empty
    input yields an empty result.
    """
    flat = _embedding_lsh_buckets(
        embeddings, threshold, id_col, vec_col, num_planes, num_tables,
        target_recall, seed, dim, flat=True,
    )
    if flat is None:
        # empty-path schema must agree with the non-empty path, so
        # derive the pair-id type from the actual id column
        id_type = embeddings.schema[id_col].dataType
        return embeddings.sparkSession.createDataFrame(
            [],
            T.StructType([
                T.StructField("id_a", id_type),
                T.StructField("id_b", id_type),
                T.StructField("cosine", T.DoubleType()),
            ]),
        )
    # bucket-sorted stream → vectorized numpy pair expansion (the
    # collect_list + nested-transform expression form is interpreted;
    # profiled 90s → seconds at 80k vectors × 141 tables)
    part = flat.repartition(F.col("band_id"), F.col("band_hash")).sortWithinPartitions(
        "band_id", "band_hash", "id"
    )
    id_t = embeddings.schema[id_col].dataType.simpleString()
    cand = (
        part.mapInPandas(_bucket_pairs_map(max_width=512), f"id_a {id_t}, id_b {id_t}")
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return (
        _attach_pair_payloads(
            cand,
            vecs.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va")),
            vecs.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb")),
        )
        .select(
            "id_a", "id_b",
            V.cosine_similarity("_va", "_vb", dim).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .transform(_pair_order)
    )


def embedding_neardup_pairs_clustered(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    nprobe: int = 2,
    seed: int = 42,
    dim: int | None = None,
    screen_tile: int = 2048,
    target_block_size: int = 2000,
) -> DataFrame:
    """Cluster-blocked semantic near-dup pairs — the embedding-space
    scale form VERDICT r10 asked to gate (item 6).

    Why it exists: at FIXED recall the sign-LSH path's table count
    grows b ~ n^0.28, so its band explode is n^1.28 rows (measured
    16.5 → 102 s on a 4× corpus, SURVEY §6) — inherent to the method.
    Cluster blocking scales differently: spherical-k-means centroids
    (the IVF coarse quantizer, operators/ivf.py — unit centroids make
    plain L2 routing exact cosine order), each vector multi-assigned
    to its ``nprobe`` nearest lists, and an exact screen INSIDE each
    list only. Candidate work is Σ_l |l|² ≈ n·(nprobe·n/k)·nprobe —
    pick k ∝ n for a target block size B and the pass is LINEAR in n
    at fixed B.

    Physical shape of the screen (the part that matters at 100 TB):
    applyInPandas per list with one BLAS gram per block — NOT a
    self-join. The SMJ self-join form materializes |l|² rows through
    the join machinery (~µs/pair); the gram screen is a (|l| × dim) @
    (dim × |l|) matmul (~ns/pair; measured minutes → seconds at 80k
    vectors, 480 lists). The screen emits candidate ID pairs only
    (with an ulp margin below the threshold); the final score is then
    computed by the SAME Spark cosine kernel the exact operator uses,
    via a join that touches ~|true pairs| rows — so found-pair values
    are bit-identical to :func:`embedding_neardup_pairs` and the
    empty-diff gate compares exactly. Oversized blocks (hot-cluster
    skew) are screened in ``screen_tile``-row gram tiles, bounding
    task memory at tile × |l| floats; for adversarial skew see
    semdedup's reassignment hardening.

    Recall semantics: a pair is found iff its members share at least
    one of their nprobe nearest lists — near-dup pairs are
    near-coincident vectors, so they share a nearest list unless they
    straddle a Voronoi boundary, which nprobe covers from both sides
    (the SemDeDup §3 blocking argument). Equality with the exact pair
    scan on the gate corpus is pinned by the always-empty
    ``embedding_clustered_vs_exact_diff`` entry; precision is 1.0 by
    construction (exact re-score).

    Output: (id_a, id_b, cosine), canonically ordered like every other
    pair operator here.

    ``n_lists=None`` (the default) derives the list count from the
    corpus size at ``target_block_size`` rows per block — the rule the
    docstring's own scale argument requires (k ∝ n at fixed B). A
    fixed default would be quadratic-in-disguise for any caller who
    didn't read the docstring (VERDICT r11 "What's wrong" #1): at 100M
    vectors, 16 lists means ~n²/16 gram work. The one extra `count()`
    is a metadata-cheap scalar aggregate; pass an explicit ``n_lists``
    to skip it.
    """
    import numpy as np
    import pandas as pd

    from secure_agent_api_vector_search_spark.functions import vector as V
    from secure_agent_api_vector_search_spark.operators import ivf as IV

    n = None
    if n_lists is None:
        n = embeddings.count()
        n_lists = max(16, n // max(1, target_block_size))
    # pass the just-counted corpus size through as the fit's sample
    # bound — the fit otherwise re-counts the corpus (a second full
    # pass per call, r13)
    cents = IV._fit_centroids(
        embeddings, vec_col, n_lists, seed=seed, metric="cosine",
        order_col=id_col, n_rows=n,
    )
    ranked = IV._nearest_lists_udf(cents, nprobe=nprobe)(F.col(vec_col))
    blocked = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .withColumn("_lists", ranked)
        .withColumn("list_id", F.explode("_lists"))
        .drop("_lists")
    )
    id_t = embeddings.schema[id_col].dataType.simpleString()
    thr = float(threshold) - 1e-9  # ulp margin; exact kernel re-filters

    def screen(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1)
        nrm[nrm == 0.0] = 1.0
        u = m / nrm[:, None]
        outs_a = []
        outs_b = []
        for t0 in range(0, len(ids), screen_tile):
            t1 = min(t0 + screen_tile, len(ids))
            g = u[t0:t1] @ u.T  # (tile, |l|) BLAS block
            ia, ib = np.nonzero(g >= thr)
            ia = ia + t0
            keep = ia < ib  # upper triangle only
            outs_a.append(ids[ia[keep]])
            outs_b.append(ids[ib[keep]])
        a = np.concatenate(outs_a)
        b = np.concatenate(outs_b)
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = (
        blocked.groupBy("list_id")
        .applyInPandas(screen, f"id_a {id_t}, id_b {id_t}")
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return (
        _attach_pair_payloads(
            cand,
            vecs.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va")),
            vecs.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb")),
        )
        .select(
            "id_a", "id_b",
            V.cosine_similarity("_va", "_vb", dim).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .transform(_pair_order)
    )


def embedding_similarity_join(
    dfA: DataFrame,
    dfB: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    num_tables: int | None = None,
    target_recall: float = 0.95,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Two-frame semantic similarity join: pairs (a ∈ A, b ∈ B) with
    cosine ≥ threshold, candidates via shared sign-LSH buckets
    (`approxSimilarityJoin` for embeddings — SURVEY.md §2.10).

    Same machinery as :func:`embedding_neardup_pairs_lsh`, but over a
    side-tagged union: member ids are (side, id) structs, so the
    in-bucket `array_sort` places A before B and every cross pair is
    already (A, B)-oriented; the structural ``pair_keep`` drops
    same-side pairs before the explode. Precision 1.0 (exact cosine
    verify in-bucket); recall = the table-count target. Output:
    (id_a, id_b, cosine), id_a from A, id_b from B.
    """
    def tag(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.lit(side).alias("_tag_side"),
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )

    tagged = tag(dfA, 0).unionAll(tag(dfB, 1))
    flat = _embedding_lsh_buckets(
        tagged, threshold, id_col, vec_col, num_planes, num_tables,
        target_recall, seed, dim, flat=True, flat_side_col="_tag_side",
    )
    if flat is None:
        id_type = dfA.schema[id_col].dataType
        return dfA.sparkSession.createDataFrame(
            [],
            T.StructType([
                T.StructField("id_a", id_type),
                T.StructField("id_b", id_type),
                T.StructField("cosine", T.DoubleType()),
            ]),
        )
    # id-only bucket shuffle + verify join, same reasoning as
    # embedding_neardup_pairs_lsh; cross-side pairs expand in the
    # bucket-sorted vectorized map (A block × B block only)
    part = flat.repartition(F.col("band_id"), F.col("band_hash")).sortWithinPartitions(
        "band_id", "band_hash", "side", "id"
    )
    id_t = dfA.schema[id_col].dataType.simpleString()
    cand = (
        part.mapInPandas(_cross_pairs_map(max_width=512), f"id_a {id_t}, id_b {id_t}")
        .distinct()
    )
    va = dfA.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("_va")
    )
    vb = dfB.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("_vb")
    )
    return (
        _attach_pair_payloads(cand, va, vb)
        .select(
            "id_a", "id_b",
            V.cosine_similarity("_va", "_vb", dim).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .transform(_pair_order)
    )


def dedup_incremental(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup: keep the NEW-batch rows that are not
    (normalized-text) duplicates of the already-curated corpus, nor of
    an earlier row in the batch itself (keep-min-id, the same policy as
    :func:`dedup_exact` / dedup_normalized).

    This is the shape a 100 TB pipeline actually runs day to day:
    re-deduplicating the whole corpus per ingest batch is O(corpus);
    checking the batch against a materialized fingerprint table is
    O(batch). The ``seen`` side only ever contributes 16-byte md5
    fingerprints to the anti-join — at scale it is a pre-computed
    fingerprint table (not the documents), and bucketing it by ``fp``
    makes the anti-join shuffle-free on the corpus side, so steady-state
    cost is proportional to the CHANGE rate, not the table size (the
    same argument as pipelines.merge_upsert). Both stages are plain
    shuffled joins on fixed-width keys; no collect anywhere.

    Output: the surviving batch rows (original columns).
    """
    # underscore-prefixed working column (same convention as the
    # streaming twin): a batch frame that already carries a column named
    # plain "fp" must not be silently overwritten and dropped
    if "_fp" in batch.columns:
        raise ValueError(
            "dedup_incremental: batch already has a column named '_fp' "
            "(reserved working column)"
        )
    # NOTE (r13): rebalancing the narrow scans before the md5/normalize
    # was tried and measured SLOWER at sf0.1 (1.38 s -> 1.98 s warm
    # min): the ~1 s serial regex win is smaller than the round-robin
    # exchange + extra stage it buys. Left as-is deliberately.
    fp = F.md5(X.normalized_text(text_col))
    seen_fp = seen.select(fp.alias("_fp")).distinct()
    tagged = batch.withColumn("_fp", fp)
    fresh = tagged.join(seen_fp, "_fp", "left_anti")
    keepers = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fresh.join(keepers, ["_fp", id_col], "left_semi").drop("_fp")


def dedup_incremental_bloom(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 0.01,
) -> DataFrame:
    """Bloom-pre-filtered form of :func:`dedup_incremental` —
    IDENTICAL output (it shares the hard-gate oracle), different scale
    shape.

    The base form's anti-join shuffles the whole corpus fingerprint set
    on every batch. Here a Bloom filter built over the (small) batch's
    fingerprints is broadcast and applied to the corpus side MAP-SIDE,
    so only corpus fingerprints that *might* collide with the batch
    survive to the exchange: corpus-side shuffle volume drops from
    O(|corpus|) to O(|batch ∩ corpus| + fpp·|corpus|), and at a real
    overlap rate AQE converts the residual anti-join to broadcast. The
    sketch can only err toward false POSITIVES (extra rows into the
    exact anti-join, harmlessly removed); false negatives cannot occur
    because build and probe share one double-xxhash64 family
    (functions/bloom.py), so exactness is structural, not statistical.

    The result is materialized before return so the batch-side cache
    used by the two passes (bloom build + anti-join) AND the broadcast
    bitmap can be released here rather than leak per call (the
    broadcast is unpersisted non-destructively — a cache-evicted
    recompute re-ships it from the driver). The RETURNED frame stays
    persisted (same convention as :func:`minhash_incremental`);
    long-lived callers may ``.unpersist()`` it when done.
    """
    from pyspark import StorageLevel

    from secure_agent_api_vector_search_spark.functions import bloom as B

    if "_fp" in batch.columns:
        raise ValueError(
            "dedup_incremental_bloom: batch already has a column named "
            "'_fp' (reserved working column)"
        )
    fp = F.md5(X.normalized_text(text_col))
    tagged = batch.withColumn("_fp", fp).persist(StorageLevel.MEMORY_AND_DISK)
    bf = None
    try:
        bf = B.build_bloom(tagged, "_fp", fpp=fpp)
        seen_fp = seen.select(fp.alias("_fp"))
        cand = B.filter_might_contain(seen_fp, "_fp", bf)
        fresh = tagged.join(cand, "_fp", "left_anti")
        keepers = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
        out = (
            fresh.join(keepers, ["_fp", id_col], "left_semi")
            .drop("_fp")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out.count()
        return out
    finally:
        tagged.unpersist()
        if bf is not None:
            bf.destroy()


_LEDGER_BUCKETS = 32


def write_fingerprint_ledger(
    seen: DataFrame,
    table_name: str,
    text_col: str = "text",
    buckets: int = _LEDGER_BUCKETS,
) -> None:
    """Materialize the corpus fingerprint set as a table BUCKETED by
    fingerprint — the steady-state layout :func:`dedup_incremental`'s
    docstring promises: with the corpus side pre-hash-distributed on
    the join key, the per-batch anti-join plans a shuffle on the
    (small) batch side ONLY; the ledger scan carries its bucket
    distribution straight into the join (no Exchange above it —
    asserted in tests/test_dedup.py). Re-running overwrites.
    """
    fp = F.md5(X.normalized_text(text_col))
    (
        seen.select(fp.alias("fp"))
        .distinct()
        .write.mode("overwrite")
        .bucketBy(buckets, "fp")
        .sortBy("fp")
        .format("parquet")
        .saveAsTable(table_name)
    )


def dedup_incremental_vs_ledger(
    batch: DataFrame,
    ledger_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dedup_incremental` against a pre-built bucketed
    fingerprint ledger (:func:`write_fingerprint_ledger`) instead of
    the raw corpus — the O(batch) steady-state form: the ledger is
    never re-fingerprinted and never re-shuffled; only the batch
    crosses an exchange. Output is identical to running the base form
    with the same corpus (parity-tested)."""
    if "_fp" in batch.columns:
        raise ValueError(
            "dedup_incremental_vs_ledger: batch already has a column "
            "named '_fp' (reserved working column)"
        )
    spark = batch.sparkSession
    fp = F.md5(X.normalized_text(text_col))
    seen_fp = spark.table(ledger_table).select(F.col("fp").alias("_fp"))
    tagged = batch.withColumn("_fp", fp)
    fresh = tagged.join(seen_fp, "_fp", "left_anti")
    keepers = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fresh.join(keepers, ["_fp", id_col], "left_semi").drop("_fp")


def minhash_incremental(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dup dedup: the MinHash completion of
    :func:`dedup_incremental` — keep the batch rows whose Jaccard
    against every already-curated document AND every kept earlier batch
    row stays below ``threshold``.

    Two stages, both reusing the vectorized banding machinery:
    (1) cross screen — :func:`minhash_similarity_join` (batch × seen)
    finds batch docs with a verified near-dup in the corpus; they are
    anti-joined away. (2) within-batch — :func:`minhash_near_dup_pairs`
    over the survivors, resolved to components with keep-min-id
    (components.keep_first), so a batch that carries its own dup
    cluster keeps exactly one representative.

    Scale notes: the batch's shingle/signature pass runs ONCE and both
    stages bind to it (stage 2 semi-joins the cached feature frame down
    to the survivors); the ``seen`` side is re-featurized per call,
    which is the right call up to moderate corpus sizes (one map pass,
    no shuffle). The 100 TB steady-state form materializes the seen
    feature frame once (write the feats projection to a parquet table
    bucketed by band hash) and rebinds stage (1) to it, making
    per-batch cost O(batch) + one band-key shuffle. Same-parameter
    discipline applies: ``shingle_k/num_hashes/num_bands/seed`` must
    match the values the state was built with — signatures are only
    comparable within one hash family. The RESULT is returned
    persisted and materialized (so the intermediate feature frames can
    be unpersisted here instead of leaking per call); callers owning a
    long-lived session may `.unpersist()` it when done.
    """
    from pyspark import StorageLevel

    from secure_agent_api_vector_search_spark.operators.components import keep_first

    sig = _shingle_sig_udf(shingle_k, num_hashes, seed, num_bands)

    level = StorageLevel.MEMORY_AND_DISK
    fb = _minhash_side_feats(batch, sig, text_col, id_col, 0).persist(level)
    fs = _minhash_side_feats(seen, sig, text_col, id_col, 1).persist(level)
    try:
        fb.count(), fs.count()  # one eager pass each; both stages consume
        b_ok = fb.filter(F.col("shingles").isNotNull())
        s_ok = fs.filter(F.col("shingles").isNotNull())
        margin = 3.0 * math.sqrt(0.25 / num_hashes)
        keep_min = threshold - margin

        # stage 1: batch × seen — the SAME screen+verify pipeline the
        # similarity join (and its gates) run
        hits = (
            _cross_screen_verify(b_ok, s_ok, num_hashes, num_bands, threshold)
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        fresh = batch.join(hits, id_col, "left_anti")

        # stage 2: within-batch pairs over the SURVIVORS, rebinding the
        # already-computed batch features (no second shingle pass)
        f_fresh = b_ok.drop("side").join(
            fresh.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        screened_w = minhash_candidate_pairs(
            f_fresh, "id", num_hashes, num_bands, keep_min=keep_min
        )
        wh_a = f_fresh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
        wh_b = f_fresh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
        within = (
            screened_w.join(wh_a, "id_a").join(wh_b, "id_b")
            .filter(H.jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
            .select("id_a", "id_b")
        )
        out = keep_first(fresh, within, id_col=id_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        out.count()  # materialize before the feature frames go away
        return out
    finally:
        fb.unpersist()
        fs.unpersist()


def text_jaccard_join_exact(
    dfA: DataFrame,
    dfB: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    via: str = "cross",
) -> DataFrame:
    """Exact two-frame text Jaccard join — the ground-truth twin of
    :func:`minhash_similarity_join`.

    The verify uses the SAME int64-packed byte-shingle sets and the
    same H.jaccard expression as the MinHash join, so scores are
    bit-identical across the two forms (what the empty-diff gate
    compares).

    Candidate generation — ``via``:
    - ``"cross"`` (default): broadcast A × B, one codegen'd jaccard per
      pair. Exact and FAST when |A|·|B| is bounded (the more-selective
      side broadcast) — common byte-shingles like `" the "` make the
      inverted-index intermediate Σ_shingle |A-post|·|B-post| ORDERS
      larger than |A|·|B| on natural text, so the cross product is the
      cheaper exact plan until A stops fitting a broadcast.
    - ``"index"``: inverted shingle index (a pair with jaccard > 0 must
      share a shingle, so the equality join is exhaustive for any
      positive threshold) — no cross product, the exact plan when both
      sides are large AND shingles are selective (near-unique grams).

    Output: (id_a, id_b, jaccard), id_a from A, id_b from B.
    """
    if threshold <= 0.0:
        # the index path's exhaustiveness proof (shared shingle ⇒
        # candidate) only holds for positive thresholds; at 0 the two
        # strategies would diverge on zero-overlap pairs
        raise ValueError("threshold must be > 0")
    sig = _shingle_sig_udf(shingle_k, 1, seed, 0)

    def feats(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        return (
            rebalance_if_narrow(df)
            .select(F.col(id_col).alias(out_id), sig(F.col(text_col)).alias("_f"))
            .select(out_id, F.col("_f.shingles").alias(out_sh))
            .filter(F.col(out_sh).isNotNull())
        )

    fa = feats(dfA, "id_a", "sh_a")
    fb = feats(dfB, "id_b", "sh_b")
    if via == "cross":
        joined = fb.crossJoin(F.broadcast(fa))
    elif via == "index":
        cand = (
            fa.select("id_a", F.explode("sh_a").alias("_s"))
            .join(fb.select("id_b", F.explode("sh_b").alias("_s")), "_s")
            .select("id_a", "id_b")
            .distinct()
        )
        joined = _attach_pair_payloads(cand, fa, fb)
    else:
        raise ValueError(f"via must be 'cross' or 'index', got {via!r}")
    pairs = joined.select(
        "id_a", "id_b", H.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    return _pair_order(pairs)


def simhash_pairs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Exact all-pairs SimHash Hamming join — the ground-truth twin of
    :func:`simhash_near_dup_pairs`. One broadcast cross product over
    the 16-byte fingerprint table with a codegen XOR+bit_count filter;
    quadratic by construction (the chunk-banded form exists precisely
    to avoid this at scale), but the banded form's recall is
    PIGEONHOLE-guaranteed at max_hamming < n_chunks (a pair differing
    in ≤3 bits cannot touch all 4 16-bit chunks), so the two forms'
    pair sets are provably identical wherever bucket widths stay under
    the star-pairing cap — what the empty-diff gate checks.

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    sh = simhash_fingerprint(df, text_col, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("fp").alias("_fa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("fp").alias("_fb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return _pair_order(pairs)
