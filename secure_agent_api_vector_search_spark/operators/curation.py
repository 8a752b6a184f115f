"""Corpus-curation operators for the training-data pipeline ([EXT],
SURVEY.md §2.10): domain balancing, PII redaction, deterministic
dataset splitting, and benchmark-contamination checks. (Gopher-style
repetition rules live in operators/textops.py::doc_repetition.)

The reference (wkw8402/secure-agent-api-vector-search) has no curation
surface — its corpus is 50 hand-written rows (sql/03_seed_data.sql) —
but a 100 TB training-data pipeline runs exactly these passes between
ingest and tokenization. All plans are built-in DataFrame ops; the
expressions are chosen to be recomputable in ANSI SQL so every operator
is oracle-checked (tools/mini_driver.py / the driver's DuckDB gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import text as X
from secure_agent_api_vector_search_spark.functions.localdf import local_frame

# PII patterns — the subset of regex syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, word boundaries. No backreferences or lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def per_source_cap(
    documents: DataFrame, cap: int = 20, id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Domain balancing: keep at most ``cap`` documents per source,
    preferring longer documents (desc n_chars, id tie-break — a total
    order, so the kept set is deterministic on any engine).

    Scale shape: a SALTED two-stage top-N. A single window partitioned
    by source puts a mega-domain's entire row set into one sort task —
    the unsplittable-hot-partition ceiling; the cap bounds the OUTPUT,
    not the sort. Stage 1 takes the top ``cap`` within each of 16
    (source, salt) sub-buckets — exact retention: a row outside its
    sub-bucket's top-cap already has >= cap rows above it in that
    bucket alone, so its true rank exceeds cap and it can never be a
    keeper. Stage 2 re-ranks the <= 16*cap survivors per source, so the
    final rk values are bit-identical to the single-window form (the
    oracle replays that form verbatim). No collect, no global sort —
    the output stays in window-partition order (source cardinality is
    O(corpus) for web domains, so a trailing presentation sort would be
    a corpus-sized range exchange; the gate hash is order-insensitive).
    """
    order = (F.desc("n_chars"), id_col)
    slim = documents.select(id_col, source_col, "n_chars")
    pre = (
        slim.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(16)))
        .withColumn(
            "_prk",
            F.row_number().over(
                Window.partitionBy(source_col, "_salt").orderBy(*order)
            ),
        )
        .filter(F.col("_prk") <= cap)
        .drop("_salt", "_prk")
    )
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        pre.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select(id_col, source_col, "n_chars", F.col("rk").cast("long").alias("rk"))
    )


def quality_percentile_filter(
    documents: DataFrame,
    min_pct: float = 0.2,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributional curation cut: keep documents whose quality score
    clears the ``min_pct`` percentile WITHIN their group (per-language
    cuts are the standard form — an absolute threshold tuned on English
    silently guts low-resource languages; a per-group percentile keeps
    the mix).

    percent_rank is (rank - 1) / (n - 1) with (score, id) as a total
    order, so the cut is deterministic and engine-independent (mirrored
    verbatim by the SQL oracle).

    Scale shape — honest ceiling: the output contract exposes the
    per-row ``q_pctile``, which requires every row's exact rank, so
    this runs one window partition per group — ONE sort task per
    language (AQE skew handling applies to joins, not window
    exchanges). Fine to ~10^8 rows per language; past that, use
    :func:`quality_percentile_cut`, which produces the identical kept
    SET (no per-row percentile column) with no corpus-wide window.
    """
    from secure_agent_api_vector_search_spark.functions import text as X

    q = X.quality_score("text")
    w = Window.partitionBy(group_col).orderBy(q, id_col)
    return (
        documents.withColumn("quality", q)
        .withColumn("q_pctile", F.percent_rank().over(w))
        .filter(F.col("q_pctile") >= min_pct)
        .select(id_col, group_col, "quality", "q_pctile")
    )


def quality_percentile_cut(
    documents: DataFrame,
    min_pct: float = 0.2,
    group_col: str = "lang",
    id_col: str = "doc_id",
    accuracy: int = 10_000,
    band_cap: int = 5_000_000,
) -> DataFrame:
    """Skew-safe EXACT per-group percentile cut — the 100 TB form of
    :func:`quality_percentile_filter` when the per-row percentile value
    is not needed: the kept SET is identical (verified against the
    window form's oracle), with NO corpus-wide window.

    Band refinement in three bounded passes:
    (1) a Greenwald-Khanna quantile sketch brackets the boundary score
        per group at ``min_pct ± margin`` (margin = 4/accuracy, wider
        than the sketch's rank-error guarantee);
    (2) one conditional aggregate counts, per group, the rows strictly
        below the band and up to its top — which at runtime PROVES the
        true boundary lies inside the band (sketch guarantees are
        verified, not trusted: a violation raises);
    (3) only the band rows (~2·margin·|group|, capped at ``band_cap``)
        are ranked by a window; each band row's exact global rank is
        below-count + band rank, and the keep test evaluates the SAME
        IEEE expression the window form uses — (rank-1)/(n-1) >= p —
        so boundary doubles cannot disagree. Rows above the band are
        kept outright (their rank provably clears the cut).

    Group cardinality must be driver-bounded (languages; per-DOMAIN
    percentiles need a different design). A heavy tied score atom AT
    the boundary inflates the band — past ``band_cap`` this raises
    rather than silently recreating the hot partition.

    Output: (id, group, quality) — :func:`quality_percentile_filter`
    minus the per-row percentile column.
    """
    import math

    from secure_agent_api_vector_search_spark.functions import text as X

    if not 0.0 <= min_pct <= 1.0:
        raise ValueError(f"min_pct must be in [0, 1], got {min_pct}")
    spark = documents.sparkSession
    q = X.quality_score("text")
    scored = documents.select(
        F.col(id_col), F.col(group_col), q.alias("quality")
    ).persist()
    try:
        # the percentile margin must cover >= 4 RANKS to beat the
        # sketch's error plus rank/percentile conversion conventions;
        # 4/accuracy ranks only exceeds 4 once n > accuracy, so smaller
        # groups skip the sketch and take the WHOLE group as the band
        # (a <= accuracy-row window partition — harmless by definition)
        margin = 4.0 / accuracy
        p_lo, p_hi = max(0.0, min_pct - margin), min(1.0, min_pct + margin)
        # ONE aggregate pass computes count AND sketch per group (r13:
        # previously two sequential passes — count, then a second
        # filtered scan for the sketch; guide §1.2 "don't compute in
        # two passes what one pass carries"). The per-group GK sketch
        # is independent of other groups, so its values are identical
        # to the old filtered form; sketches of groups that stay on
        # the whole-group band are simply discarded below.
        agg_rows = (
            scored.groupBy(group_col)
            .agg(
                F.count("*").alias("_n"),
                # non-null count: the driver-side fill below must
                # reproduce the old aggregate's `quality <= inf`
                # semantics exactly (null quality counted in neither
                # bound), so a group of null scores still trips the
                # bracket ValueError instead of silently dropping rows
                F.count("quality").alias("_nn"),
                F.percentile_approx("quality", [p_lo, p_hi], accuracy).alias("b"),
            )
            .collect()
        )
        counts = {r[group_col]: int(r["_n"]) for r in agg_rows}
        nn = {r[group_col]: int(r["_nn"]) for r in agg_rows}
        # NULL is a legitimate group value (the window form treats it
        # as its own partition); a big null group simply takes the
        # whole-group band like small ones (unchanged contract)
        big = {g for g, n in counts.items() if n > accuracy and g is not None}
        bstats = {
            r[group_col]: (float(r["b"][0]), float(r["b"][1]))
            for r in agg_rows
            if r[group_col] in big
        }

        # smallest 1-based rank k with (k-1)/(n-1) >= p, under the SAME
        # double arithmetic percent_rank uses (adjusted, not assumed)
        def k_of(n: int) -> int:
            if n <= 1:
                return 1 if min_pct <= 0.0 else 2  # 2 = unreachable: drop
            k = max(1, math.ceil(min_pct * (n - 1) + 1) - 1)
            while k <= n and (k - 1) / (n - 1) < min_pct:
                k += 1
            return k

        inf = float("inf")
        rows = [
            (g, n, *bstats.get(g, (-inf, inf)), k_of(n))
            for g, n in counts.items()
        ]
        # group type taken from the SOURCE schema (not hardcoded), and
        # every driver-frame join is null-SAFE so a NULL group flows
        # through exactly like the window form's NULL partition
        from pyspark.sql import types as T

        gtype = scored.schema[group_col].dataType
        bounds_schema = T.StructType(
            [
                T.StructField("_g", gtype),
                T.StructField("n", T.LongType()),
                T.StructField("t_lo", T.DoubleType()),
                T.StructField("t_hi", T.DoubleType()),
                T.StructField("k", T.LongType()),
            ]
        )
        # local_frame, not createDataFrame: a literal frame must plan
        # as LocalTableScan — the RDD form cost four 32-task Python-
        # worker broadcast rebuilds per call here (functions/localdf.py)
        bounds = F.broadcast(local_frame(spark, rows, bounds_schema))
        tagged = scored.join(
            bounds, scored[group_col].eqNullSafe(bounds["_g"])
        ).drop("_g")
        # the runtime bracket proof only needs a pass over SKETCHED
        # groups: a whole-group band (t_lo=-inf, t_hi=inf) has
        # below = 0 and le_hi = n BY DEFINITION — counting that with an
        # aggregate was a full extra corpus pass that proved a
        # tautology (r13; at sf0.1 every group is whole-band and the
        # checks job disappears outright). The same ValueError
        # conditions are evaluated for every group either way.
        checks = [
            {group_col: g, "n": n, "k": k_of(n), "below": 0, "le_hi": nn[g]}
            for g, n in counts.items()
            if g not in big
        ]
        if big:
            checks += [
                r.asDict()
                for r in tagged.filter(F.col(group_col).isin(list(big)))
                .groupBy(group_col, "n", "k")
                .agg(
                    F.sum(F.when(F.col("quality") < F.col("t_lo"), 1).otherwise(0))
                    .alias("below"),
                    F.sum(F.when(F.col("quality") <= F.col("t_hi"), 1).otherwise(0))
                    .alias("le_hi"),
                )
                .collect()
            ]
        for c in checks:
            in_band = c["le_hi"] - c["below"]
            if in_band > band_cap:
                raise ValueError(
                    f"quality_percentile_cut: boundary band for group "
                    f"{c[group_col]!r} holds {in_band} rows (> band_cap "
                    f"{band_cap}) — a heavy tied score atom at the cut; "
                    "raise accuracy or fall back to "
                    "quality_percentile_filter"
                )
            if c["k"] <= c["n"] and not (c["below"] < c["k"] <= c["le_hi"]):
                raise ValueError(
                    f"quality_percentile_cut: sketch bracket missed the "
                    f"boundary for group {c[group_col]!r} "
                    f"(below={c['below']}, k={c['k']}, le_hi={c['le_hi']}) "
                    "— raise accuracy"
                )
        below_schema = T.StructType(
            [T.StructField("_g", gtype), T.StructField("below", T.LongType())]
        )
        below_df = F.broadcast(
            local_frame(
                spark, [(c[group_col], int(c["below"])) for c in checks],
                below_schema,
            )
        )
        band = (
            tagged.filter(
                (F.col("quality") >= F.col("t_lo"))
                & (F.col("quality") <= F.col("t_hi"))
            )
            .join(below_df, tagged[group_col].eqNullSafe(below_df["_g"]))
            .drop("_g")
        )
        w = Window.partitionBy(group_col).orderBy("quality", id_col)
        band_kept = (
            band.withColumn("rank", F.row_number().over(w) + F.col("below"))
            .filter(
                (F.col("n") == 1)
                & F.lit(min_pct <= 0.0)
                | (F.col("n") > 1)
                & (
                    (F.col("rank") - 1).cast("double")
                    / (F.col("n") - 1).cast("double")
                    >= F.lit(min_pct)
                )
            )
            .select(id_col, group_col, "quality")
        )
        above = tagged.filter(F.col("quality") > F.col("t_hi")).select(
            id_col, group_col, "quality"
        )
        out = band_kept.unionByName(above).persist()
        out.count()
        return out
    finally:
        scored.unpersist()


def pii_redact(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing: count and redact emails, dashed phone numbers,
    and IPv4 literals. Replacement order is fixed (email → phone → ip)
    and the patterns are mutually non-overlapping by construction, so
    counts are stable under the rewrite.

    One scan, zero shuffles, no trailing sort: regexp_count /
    regexp_replace are codegen'd JVM expressions — this runs at scan
    speed over 100 TB.
    """
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return documents.select(
        id_col,
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        redacted.alias("redacted_text"),
    )


def dataset_split(
    documents: DataFrame,
    train: float = 0.9,
    val: float = 0.05,
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by stable key hash.

    split(doc) depends ONLY on (key, seed): re-running over a grown
    corpus never reassigns an existing document (the property random()
    sampling lacks), and any subset of the data reproduces the same
    labels — the requirement for incremental 100 TB ingest. One scan,
    zero shuffles.

    The hash is the first 15 hex chars of md5(key || seed) — 60 bits,
    cross-engine: Spark `conv(substring(md5(x), 1, 15), 16, 10)` and
    DuckDB `('0x' || substring(md5(x), 1, 15))::BIGINT` produce the
    identical integer, so the assignment itself is oracle-checked.
    Output: (doc_id, bucket, split).
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 15),
        16, 10,
    ).cast("bigint")
    bucket = (h % 10000).alias("bucket")
    # round, don't truncate (the stratified_sample convention): float
    # representation makes e.g. 0.29 * 10000 = 2899.999..., and int()
    # alone would put bucket 2899 on the wrong side of the declared
    # boundary. The default 0.9/0.05 boundaries are unaffected.
    split = (
        F.when(h % 10000 < int(round(train * 10000)), "train")
        .when(h % 10000 < int(round((train + val) * 10000)), "val")
        .otherwise("test")
    )
    return documents.select(
        id_col, bucket, split.alias("split")
    )


def stratified_sample(
    documents: DataFrame,
    fractions: dict[str, float],
    default: float = 0.0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep each row with its
    stratum's fraction — the data-mixture lever (downsample crawl,
    keep curated sources whole) applied as a FILTER, not a shuffle.

    Unlike ``df.sampleBy`` (RNG per task — resample on every retry,
    repartition, or re-run), membership depends ONLY on (key, seed)
    via the shared md5-60bit recipe (:func:`dataset_split`): a grown
    corpus never flips an existing row's membership, any subset
    reproduces the same decisions, and DuckDB recomputes the exact
    kept set, so the sample itself sits on the hard oracle gate.
    Strata absent from ``fractions`` fall back to ``default`` (0.0 =
    drop — an explicit mixture spec drops unknown sources rather than
    silently passing them through).

    One scan, zero shuffles, no UDFs; the fractions dict becomes an
    inline CASE expression (bounded: one branch per declared stratum).
    Output: the sampled rows, all original columns.
    """
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1], got {v}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 15),
        16, 10,
    ).cast("bigint")
    # round, don't truncate: float representation makes e.g.
    # 0.29 * 10000 = 2899.999..., and int() alone would silently keep
    # 28.99% instead of the declared 29% (mixture_upsample's
    # conversion, kept in lockstep here)
    frac = F.lit(int(round(default * 10000)))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == k, int(round(v * 10000))).otherwise(frac)
    return documents.filter((h % 10000) < frac)


def contamination_check(
    documents: DataFrame,
    eval_max_id: int = 20,
    n: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination scan: for each training document, the
    count and fraction of its token ``n``-grams that also occur in the
    eval split (docs with id < ``eval_max_id``) — the standard
    train/test n-gram-overlap decontamination pass (e.g. GPT-3 appendix
    C: 13-gram overlap; ``n`` is sized to this corpus's short docs).

    Scale shape: the eval side is a benchmark — thousands of rows
    against a 100 TB training corpus — so its distinct gram set is
    BROADCAST and the probe is a map-side hash semi-join on the
    training scan: no shuffle of training grams. The two training-side
    aggs are keyed by doc_id (partial agg map-side).
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            id_col,
            F.explode(F.array_distinct(X.token_shingles("text", n))).alias("g"),
        )

    train = documents.filter(F.col(id_col) >= eval_max_id)
    eval_grams = (
        documents.filter(F.col(id_col) < eval_max_id)
        .transform(grams)
        .select("g")
        .distinct()
    )
    tg = grams(train)
    totals = tg.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (
        tg.join(F.broadcast(eval_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        totals.join(hits, id_col)
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit").cast("double") / F.col("n_grams")).alias("hit_frac"),
        )
    )


def epoch_shuffle(
    documents: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    seed: str = "epoch-0",
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every
    document a (shard, pos) for one training epoch.

    Training pipelines need a REPRODUCIBLE global shuffle per epoch —
    `orderBy(rand())` is neither reproducible across retries nor
    restartable mid-epoch, and a true global sort of 100 TB is an
    all-data range exchange. This is the standard alternative: a stable
    hash of (key, epoch seed) IS the shuffle order. Every property a
    trainer needs follows: the order is a pure function of (key, seed),
    so any failed shard re-derives identically; a different ``seed``
    value gives an independent permutation per epoch; readers stream
    shard files in pos order with no coordination.

    Plan shape: one hash exchange on ``shard`` + a within-shard sort
    (exactly the `repartition(n).sortWithinPartitions` write layout) —
    NO global sort, no sampling job. The hash is the cross-engine
    md5-60bit recipe shared with :func:`dataset_split`, so the full
    assignment (hash, shard, pos) is oracle-checked.

    Output: (id, order_hash, shard, pos), pos = 1..|shard| dense within
    each shard. Note pos is NOT growth-invariant (inserting a document
    shifts later positions within its shard — inherent to any dense
    epoch order); shard and order_hash are.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 15),
        16, 10,
    ).cast("bigint")
    hashed = documents.select(F.col(id_col), h.alias("order_hash")).withColumn(
        "shard", (F.col("order_hash") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("order_hash", id_col)
    return hashed.withColumn("pos", F.row_number().over(w))


def write_epoch_shards(
    documents: DataFrame,
    path: str,
    n_shards: int = 32,
    id_col: str = "doc_id",
    seed: str = "epoch-0",
) -> None:
    """Materialize one epoch's training order as the on-disk layout a
    data loader streams: `path/shard=K/` holds shard K's documents in
    ascending ``pos`` order.

    Plan: :func:`epoch_shuffle` assigns (shard, pos); the payload joins
    back on the id; `repartition(n, shard)` co-locates each shard in
    one task (equal shard values hash identically, so a shard never
    splits across files) and `sortWithinPartitions` lays rows down in
    epoch order — parquet preserves within-file row order, so a reader
    consuming each shard directory's files sequentially sees exactly
    the epoch permutation. Total cost: two hash exchanges (shuffle +
    join) and local sorts; no global sort at any width.
    """
    order = epoch_shuffle(documents, n_shards=n_shards, id_col=id_col, seed=seed)
    (
        documents.join(order, id_col)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def mixture_upsample(
    documents: DataFrame,
    weights: dict[str, float],
    default: float = 1.0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "upsample-v1",
) -> DataFrame:
    """Deterministic mixture sampling WITH repetition: realize a data
    mixture whose per-source weight may exceed 1 (curated sources seen
     2-3x per epoch, crawl downsampled — the LLaMA-style mixture
    table). Every input row yields ``floor(w)`` copies plus one more
    when its stable hash clears ``frac(w)`` — so a source with weight
    2.3 contributes each doc twice and a deterministic 30% of docs a
    third time, and expected output mass is exactly ``w`` per source.

    Membership uses the shared md5-60bit stable-key recipe
    (:func:`dataset_split`): re-runs, retries, and corpus growth never
    change any row's copy count, any subset reproduces its decisions,
    and the oracle recomputes the exact output. Output: all original
    columns plus ``copy`` (1-based) — (doc_id, copy) is the unit the
    epoch shuffle places, so repeated copies scatter across shards
    instead of sitting adjacent.

    One scan, zero shuffles, no RNG; the weights dict becomes an
    inline CASE. ``F.sequence(1, 0)`` counts DOWN (functions/text.py
    ``_windows`` gotcha), so zero-copy rows take an explicit empty
    array instead of a degenerate sequence.
    """
    for k, v in weights.items():
        if v < 0.0:
            raise ValueError(f"weight for stratum {k!r} must be >= 0, got {v}")
    if default < 0.0:
        raise ValueError(f"default weight must be >= 0, got {default}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 15),
        16, 10,
    ).cast("bigint")
    w_bp = F.lit(int(round(default * 10000)))
    for k, v in sorted(weights.items()):
        w_bp = F.when(F.col(strata_col) == k, int(round(v * 10000))).otherwise(w_bp)
    n_copies = (
        (w_bp / 10000).cast("bigint")
        + F.when((h % 10000) < (w_bp % 10000), F.lit(1)).otherwise(F.lit(0))
    ).alias("_n_copies")
    return (
        documents.withColumn("_n_copies", n_copies)
        .withColumn(
            "copy",
            F.explode(
                F.when(
                    F.col("_n_copies") >= 1,
                    F.sequence(F.lit(1).cast("bigint"), F.col("_n_copies")),
                ).otherwise(F.array().cast("array<bigint>"))
            ),
        )
        .drop("_n_copies")
    )


def lm_likelihood_buckets(
    documents: DataFrame,
    lm_source: str = "src0",
    strata_col: str = "source",
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al.
    2019, arXiv:1911.00359 §4.3): train a unigram LM on a trusted
    subset (``strata_col == lm_source`` — CCNet uses Wikipedia), score
    every document, and split each language into head / middle /
    tail thirds by per-language score percentile.

    The score is the add-one-smoothed MEAN TOKEN PROBABILITY under the
    unigram LM: sum_i (c(w_i)+1) / (n * (T+V)) with T total tokens and
    V distinct tokens in the LM subset; OOV tokens contribute the
     1/(T+V) floor. A geometric mean (true perplexity) needs ln(), and
    libm ln is not correctly-rounded — cross-engine bit determinism
    (the hard-gate contract) would hang on last-ulp luck. The mean
    probability is RATIONAL: exact integer sums on both engines, one
    IEEE division at the end, bit-identical everywhere, and it orders
    documents by the same common-vs-rare-vocabulary signal the bucket
    split needs. (A real neural LM drops in as an Arrow-batched
    pandas_udf replacing the score column; the bucketing machinery is
    unchanged — same seam as embedder.py's EndpointEmbedder.)

    Scale shape: LM counts are one token-keyed aggregate over the
    TRUSTED SUBSET only; scoring joins the token stream against that
    count table (no broadcast hint — AQE picks broadcast vs shuffle
    from the measured size, since a CCNet-grade trusted subset has a
    Wikipedia-sized vocabulary) and re-aggregates by doc — integer
    sums, map-side combinable. The percentile is a per-language
    window, the quality_percentile_filter shape, never a global sort.
    An EMPTY trusted subset raises immediately (one bounded probe job)
    instead of bucketing every document on NULL scores.

    Output: (doc_id, <group_col>, n_tokens, n_oov, lm_score,
    lm_pctile, bucket).
    """
    ws = F.split(F.regexp_replace(F.trim(F.col(text_col)), " +", " "), " ")
    toks = documents.select(
        F.col(id_col).alias("doc_id"), F.col(group_col), F.explode(ws).alias("tok")
    )
    lm_toks = (
        documents.filter(F.col(strata_col) == lm_source)
        .select(F.explode(ws).alias("tok"))
    )
    counts = lm_toks.groupBy("tok").agg(F.count("*").alias("c"))
    if counts.limit(1).count() == 0:
        # an absent trusted subset (typo'd lm_source, slice without it)
        # would otherwise yield NULL scores for every doc while the
        # percentile still assigns head/middle/tail by doc_id tiebreak
        # — garbage buckets with no error anywhere downstream
        raise ValueError(
            f"lm_likelihood_buckets: no rows with {strata_col} == "
            f"{lm_source!r}; the trusted LM subset is empty"
        )
    denom = counts.agg(
        (F.sum("c") + F.count("*")).cast("bigint").alias("t_plus_v")
    )
    # no broadcast hint on the count join: the trusted-subset
    # vocabulary can be huge at deploy scale (CCNet trains on full
    # Wikipedia) — let AQE pick broadcast vs shuffle from the
    # measured size (denom stays broadcast: one row)
    per_doc = (
        toks.join(counts, "tok", "left")
        .groupBy("doc_id", group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            (F.sum(F.coalesce(F.col("c"), F.lit(0))) + F.count("*"))
            .cast("bigint")
            .alias("_num"),
        )
        .crossJoin(F.broadcast(denom))
    )
    score = F.col("_num").cast("double") / (
        F.col("n_tokens") * F.col("t_plus_v")
    ).cast("double")
    w = Window.partitionBy(group_col).orderBy(F.desc("lm_score"), F.col("doc_id"))
    return (
        per_doc.withColumn("lm_score", score)
        .withColumn("lm_pctile", F.percent_rank().over(w))
        .select(
            "doc_id",
            group_col,
            "n_tokens",
            "n_oov",
            "lm_score",
            "lm_pctile",
            F.when(F.col("lm_pctile") < 1.0 / 3.0, "head")
            .when(F.col("lm_pctile") < 2.0 / 3.0, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


def source_drift_tvd(
    documents: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture drift monitor: per-source total-variation distance
    between the source's unigram distribution and the whole-corpus
    distribution — the "is this slice still the same kind of text"
    check a mixture pipeline pages on (a crawl source whose TVD jumps
    between snapshots changed under you; a source near 0 adds no
    diversity). TVD is used instead of KL for the same reason
    :func:`lm_likelihood_buckets` avoids perplexity: KL needs ln()
    and libm ln is not correctly-rounded, while TVD stays RATIONAL —
    0.5 * sum_i |a_i/n_s - b_i/m| with integer counts a (source) and
    b (corpus) becomes sum_i |a_i*m - b_i*n_s| / (2*n_s*m): exact
    integer arithmetic end to end, one IEEE division at the end,
    bit-identical cross-engine.

    Tokens the source lacks need no materialized (source, token) rows:
    their contribution folds to n_s*(m - B_s) with B_s the corpus
    count mass of the source's own vocabulary — so the plan never
    builds the |sources| x |vocab| cross product.

    Scale shape: one (source, token) aggregate and one token-keyed
    corpus aggregate, joined on the token (combiner-safe, AQE-
    splittable hot stop-words), then a per-source fold. Products run
    as DECIMAL(38,0) — at web scale (counts ~1e12) the int64 product
    would wrap, the decimal does not.

    Output: (source, n_tokens, tvd), tvd in [0, 1].
    """
    ws = F.split(F.regexp_replace(F.trim(F.col(text_col)), " +", " "), " ")
    toks = documents.select(F.col(strata_col).alias("source"), F.explode(ws).alias("tok"))
    src_tok = toks.groupBy("source", "tok").agg(F.count("*").alias("a"))
    # corpus counts DERIVED from the per-source aggregate: b = sum_s a —
    # re-aggregating the (source, tok) frame is a |sources|x smaller
    # shuffle than a second full token explode over the corpus
    corpus_tok = src_tok.groupBy("tok").agg(F.sum("a").alias("b"))
    n_s = src_tok.groupBy("source").agg(F.sum("a").cast("bigint").alias("n_tokens"))
    m = corpus_tok.agg(F.sum("b").cast("bigint").alias("m"))
    dec = "decimal(38,0)"
    joined = (
        src_tok.join(corpus_tok, "tok")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(m))
    )
    per_src = joined.groupBy("source", "n_tokens", "m").agg(
        F.sum(
            F.abs(
                F.col("a").cast(dec) * F.col("m").cast(dec)
                - F.col("b").cast(dec) * F.col("n_tokens").cast(dec)
            )
        ).alias("s1"),
        F.sum("b").cast("bigint").alias("b_s"),
    )
    tvd = (
        F.col("s1")
        + F.col("n_tokens").cast(dec) * (F.col("m") - F.col("b_s")).cast(dec)
    ).cast("double") / (
        F.lit(2).cast(dec) * F.col("n_tokens").cast(dec) * F.col("m").cast(dec)
    ).cast("double")
    return per_src.select("source", "n_tokens", tvd.alias("tvd"))


def _lsh_family_for(
    threshold: float, target: float = 0.99, hash_budget: int = 256
) -> tuple[int, int]:
    """Audit-grade MinHash banding family (rows-per-band r, bands b)
    for a Jaccard ``threshold``: per-pair recall 1-(1-t^r)^b must be
    >= ``target`` AT the threshold itself within ``hash_budget`` total
    hashes. Wider bands (larger r) admit fewer sub-threshold false
    candidates into the exact-verify join, so the search takes the
    LARGEST r whose required band count fits the budget; threshold 1.0
    short-circuits (every family collides with probability 1).
    Raises (rather than return a half-blind audit) when no family fits
    — at which point via='exact' is the answer. Property-tested:
    recall/budget guaranteed over the accepted threshold range."""
    import math

    for r in (8, 6, 5, 4, 3, 2):
        p = threshold**r
        if p >= 1.0:
            return (r, 1)
        if p <= 0.0:
            continue
        b = math.ceil(math.log(1.0 - target) / math.log(1.0 - p))
        if r * b <= hash_budget:
            return (r, b)
    raise ValueError(
        f"no LSH banding family within {hash_budget} hashes reaches "
        f"per-pair recall {target} at threshold {threshold} — use "
        f"via='exact' (quadratic, gate-scale) or raise the threshold"
    )


def split_leakage_check(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    block_col: str | None = None,
    id_col: str = "doc_id",
    seed: str = "split-v1",
    via: str = "lsh",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that CROSS the
    dataset-split boundary. :func:`contamination_check` asks "does a
    training doc contain eval n-grams"; this asks the complementary
    question a benchmark-integrity review actually starts from — "is
    any held-out document a near-copy of a training document" (the
    leakage mode Lee et al. 2022 §6.2 show inflates eval scores).

    Composition of two already-gated pieces, so the audit inherits
    their determinism: the stable-md5 :func:`dataset_split` (same
    ``seed`` ⇒ the split audited here IS the split the pipeline
    shipped) and exact blocked token-n-gram Jaccard
    (operators/dedup.py::ngram_jaccard_pairs). Pairs with
    ``split_a == split_b`` are benign (plain in-split duplication,
    dedup's jurisdiction) and excluded.

    ``block_col`` defaults to None: leaks cross language/source
    boundaries — a translated or re-crawled near-copy lands in
    another block, and blocking would hide exactly the pairs the
    audit exists to find (on the test corpus, ALL cross-split leaks
    are cross-lang).

    ``via`` picks the pair source; both compute EXACT Jaccard on the
    SAME md5-48 token-gram sets, so found-pair values are
    bit-identical across forms:
    - ``"lsh"`` (default): ngram_jaccard_pairs_lsh — MinHash-banded
      candidates, exact verify; the scale form (unblocked all-pairs is
      quadratic — measured 149 s vs ~4 s at 5k docs). An audit is
      completeness-critical, so the banding family is chosen
      ADAPTIVELY per threshold: the widest rows-per-band r (fewest
      false candidates) whose band count b gives per-pair recall
      1-(1-t^r)^b >= 0.99 AT the threshold itself within a 256-hash
      budget — not a fixed 16x4 family whose recall at t=0.6 would be
      ~0.89 (silently under-reporting ~11% of borderline leaks).
      Because exact verify filters on true Jaccard, the LSH output is
      a subset of the exact pair set regardless of family; the
      adaptive family bounds how far below it can fall.
    - ``"exact"``: all-pairs via ngram_jaccard_pairs, for gate-scale
      ground truth and the agreement test.
    The audit itself is O(pairs) either way.

    ``pairs`` is the AMORTIZED shape: a caller-supplied verified
    near-dup pair frame (id_a, id_b, jaccard — e.g. the one the
    pipeline's dedup stage already computed, pipelines.curate_corpus)
    skips the banded-pair build entirely; the audit is then one
    threshold filter + two split joins, O(pairs) with sub-second wall
    (bench `pipeline.leakage_audit_pairs_supplied`). The supplied
    frame must have been built at a threshold ≤ this audit's (rows
    below ``threshold`` are filtered here; rows it never contained
    cannot be recovered). ``via``/``n``/``block_col`` are ignored, and
    the caller keeps ownership of the frame's persistence.

    Output: (id_a, id_b, jaccard, split_a, split_b). With via="lsh"
    the returned frame is persisted (the banded pair intermediate is
    released before returning — no session-lifetime cache leaks per
    audit call); long-lived callers may .unpersist() it when done.
    """
    from secure_agent_api_vector_search_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_lsh,
    )

    splits = dataset_split(documents, id_col=id_col, seed=seed).select(
        id_col, "split"
    )
    if pairs is not None:
        return (
            pairs.filter(F.col("jaccard") >= threshold)
            .join(
                splits.select(
                    F.col(id_col).alias("id_a"), F.col("split").alias("split_a")
                ),
                "id_a",
            )
            .join(
                splits.select(
                    F.col(id_col).alias("id_b"), F.col("split").alias("split_b")
                ),
                "id_b",
            )
            .filter(F.col("split_a") != F.col("split_b"))
            .select("id_a", "id_b", "jaccard", "split_a", "split_b")
        )
    if via == "lsh":
        if block_col is not None:
            raise ValueError("block_col is only supported with via='exact'")
        r_rows, n_bands = _lsh_family_for(threshold)
        pairs = ngram_jaccard_pairs_lsh(
            documents,
            id_col=id_col,
            n=n,
            threshold=threshold,
            num_hashes=r_rows * n_bands,
            num_bands=n_bands,
        )
    elif via == "exact":
        pairs = ngram_jaccard_pairs(
            documents, id_col=id_col, n=n, threshold=threshold, block_col=block_col
        )
    else:
        raise ValueError(f"via must be 'lsh' or 'exact', got {via!r}")
    out = (
        pairs.join(
            splits.select(F.col(id_col).alias("id_a"), F.col("split").alias("split_a")),
            "id_a",
        )
        .join(
            splits.select(F.col(id_col).alias("id_b"), F.col("split").alias("split_b")),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )
    if via == "lsh":
        # ngram_jaccard_pairs_lsh returns its pairs frame PERSISTED (it
        # feeds the gram release inside), but the audit returns a
        # derived frame, so callers would have no handle to release the
        # cached pairs — persist the (leak-pair-sized) audit result
        # instead and release the intermediate here, the same
        # grams-release convention the pair op itself follows.
        from pyspark.storagelevel import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        pairs.unpersist()
    return out
