"""Batch ingest / backfill / index-build jobs — the reference's E3
pipeline (SURVEY.md §3) as plain DataFrame jobs.

Reference mapping:
- `UPDATE customer_records_data SET abstract_embeddings =
  embedding('text-embedding-005', abstract)` (sql/04_embeddings.sql:5-6,
  S6): parquet has no in-place UPDATE, so two shapes are provided —
  (a) the full-table form: read → withColumn(embedding) →
  overwrite-to-new-location (run_backfill_job), and (b) the AT-SCALE
  form: a keyed MERGE over a hash-bucket-partitioned layout
  (write_merge_table + merge_upsert + run_merge_backfill_job) that
  embeds only null-embedding rows and rewrites only the partitions
  containing them — the `UPDATE ... WHERE embeddings IS NULL`
  incremental semantics at 0.1%-of-table cost instead of 100%.
- `CREATE INDEX ... USING ivfflat` (sql/05_vector_index.sql:3-5, V5):
  build_and_write_index fits the coarse quantizer and writes the corpus
  partitioned by list_id (probing = partition pruning; operators/ivf.py).

At scale both are embarrassingly parallel map jobs plus one partitioned
write; the embedding UDF is the only Python stage (Arrow-batched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.embedder import embed_udf
from secure_agent_api_vector_search_spark.operators import ivf as I


def backfill_embeddings(
    docs: DataFrame,
    text_col: str = "text",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Attach embeddings where missing. If ``vec_col`` already exists,
    only null rows are (re)computed — the incremental re-run shape of
    the reference's full-table UPDATE (seed rows insert NULL embeddings,
    sql/03_seed_data.sql:2, backfilled later)."""
    emb = embed_udf(dim)(F.col(text_col))
    if vec_col in docs.columns:
        return docs.withColumn(
            vec_col, F.coalesce(F.col(vec_col), emb)
        )
    return docs.withColumn(vec_col, emb)


def run_backfill_job(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    text_col: str = "text",
    dim: int = 64,
) -> int:
    """Read raw docs parquet → embed → write embedded corpus. Returns
    the row count written (the job's idempotency check)."""
    docs = spark.read.parquet(in_path)
    embedded = backfill_embeddings(docs, text_col=text_col, dim=dim)
    embedded.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path).count()


def build_and_write_index(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> int:
    """Fit the IVF coarse quantizer, assign lists, write the
    list-partitioned index + centroid table. Returns n_lists."""
    emb = spark.read.parquet(corpus_path)
    index = I.build_ivf(emb, n_lists=n_lists, vec_col=vec_col, id_col=id_col, seed=seed)
    I.write_ivf(index, index_path)
    return len(index.centroids)


def write_merge_table(
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 64,
) -> None:
    """Write a table in the key-bucket-partitioned layout
    :func:`merge_upsert` requires: partition column
    ``_kb = pmod(xxhash64(key), n_buckets)``.

    This is the plain-parquet answer to the reference's in-place
    `UPDATE ... SET abstract_embeddings = ...` (sql/04_embeddings.sql:5-6,
    S6): parquet files are immutable, so updatability has to come from
    the LAYOUT — hash-partitioning by key means any keyed change maps to
    a known, bounded set of partitions. Size ``n_buckets`` so one bucket
    ≈ a few GB at the target scale (the unit of rewrite).
    """
    (
        df.withColumn("_kb", _key_bucket(key_col, n_buckets))
        .write.mode("overwrite")
        .partitionBy("_kb")
        .parquet(path)
    )


def _rejoin_rewritten(base: DataFrame, new_texts: DataFrame, new_col: str) -> DataFrame:
    """Join a (doc_id, <new_col>[, extras]) frame of rewritten texts
    back onto ``base``, replacing ``text`` and recounting ``n_chars``
    ONLY for rows the rewrite actually changed — n_chars is a raw
    ingest-supplied field, so untouched documents must pass through
    bit-identical (upstream counting conventions preserved). The ONE
    home of this invariant; both the WET-extraction and span-strip
    stages of curate_corpus go through it."""
    return (
        base.withColumnRenamed("text", "_old_text")
        .withColumnRenamed("n_chars", "_old_n_chars")
        .join(new_texts, "doc_id")
        .withColumn("text", F.col(new_col))
        .withColumn(
            "n_chars",
            F.when(
                F.col("text") != F.col("_old_text"),
                F.length("text").cast("long"),
            ).otherwise(F.col("_old_n_chars")),
        )
        .drop(new_col, "_old_text", "_old_n_chars")
    )


def _key_bucket(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    n_buckets: int = 64,
) -> int:
    """Keyed MERGE (upsert) into a :func:`write_merge_table` layout:
    rows whose key matches an update are replaced, new keys are
    inserted, everything else is untouched — **without rewriting the
    table**. Returns the number of partitions rewritten.

    Plan shape, and why it scales:
    1. updates → bucket ids; the DISTINCT bucket list is collected
       (≤ n_buckets ints — driver-sized by construction).
    2. the table is read with ``_kb IN (buckets)`` — partition pruning,
       so only partitions that contain an updated key are scanned.
    3. surviving old rows (left_anti on key) union the updates,
    4. written back with DYNAMIC partition overwrite — only the touched
       partitions are replaced; a re-run with the same updates rewrites
       them identically (idempotent).
    At 100 TB with 0.1% of keys updated, the rewrite is ~0.1% of the
    table plus partition-granularity rounding, vs 100% for the naive
    read→overwrite backfill.

    ``n_buckets`` must match the value the table was written with (it
    is validated against the observed partition ids). Crash-safety:
    the union is materialized as an eager ``localCheckpoint`` before
    the overwrite begins, so the snapshot is consistent and the write
    never reads the table it replaces (a lost checkpoint block fails
    the job loudly instead of recomputing from a half-overwritten
    table), but a crash mid-commit can leave a subset of touched
    partitions rewritten — per-partition parquet commits are not
    transactional across partitions; that last step is what a table
    format (Delta/Iceberg MERGE) hardens, and this function is the
    drop-in seam for it.
    """
    upd = updates.withColumn("_kb", _key_bucket(key_col, n_buckets))
    tbl = spark.read.parquet(path)
    if sorted(tbl.columns) != sorted(upd.columns):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} does not match "
            f"table schema {sorted(c for c in tbl.columns if c != '_kb')}"
        )
    buckets = [r[0] for r in upd.select("_kb").distinct().collect()]
    bad = [b for b in buckets if b is None or b < 0 or b >= n_buckets]
    if bad:
        raise ValueError(
            f"bucket ids {bad} outside [0, {n_buckets}) — n_buckets must "
            "match the write_merge_table layout"
        )
    if not buckets:
        return 0
    pruned = tbl.filter(F.col("_kb").isin(buckets))
    keep = pruned.join(upd.select(key_col).distinct(), key_col, "left_anti")
    # materialization barrier: never write over a live read
    merged = keep.unionByName(upd).localCheckpoint()
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_kb")
        .parquet(path)
    )
    return len(buckets)


def run_merge_backfill_job(
    spark: SparkSession,
    path: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    dim: int = 64,
    n_buckets: int = 64,
) -> int:
    """Incremental S6 via MERGE: embed ONLY rows whose embedding is
    null (the reference's pre-backfill state, sql/03_seed_data.sql:2)
    and merge them back in place — the table-scale analog of
    `UPDATE ... WHERE abstract_embeddings IS NULL`. Touches only the
    partitions that contain not-yet-embedded rows; embedded rows'
    vectors are never recomputed or rewritten (except bucket
    neighbors). Returns partitions rewritten (0 = nothing to do)."""
    tbl = spark.read.parquet(path)
    todo = tbl.filter(F.col(vec_col).isNull()).drop("_kb")
    if todo.isEmpty():
        return 0
    updated = todo.withColumn(vec_col, embed_udf(dim)(F.col(text_col)))
    return merge_upsert(spark, path, updated, key_col, n_buckets=n_buckets)


def write_packed_shards(
    documents: DataFrame,
    out_dir: str,
    max_tokens: int = 2048,
    n_buckets: int = 32,
) -> None:
    """Export the training-shard layout: pack documents into
    token-budget sequences (operators/packing.py) and materialize one
    row per SEQUENCE — (seq_id, bucket, n_docs, n_tokens, text with the
    member documents concatenated in pack order) — partitioned on disk
    by the packing bucket, so each shard directory is one independent
    packing group (the unit a tokenizer worker consumes).

    Scale shape: the packing itself shuffles only ids+counts; this
    export is where the TEXT moves, exactly once, keyed by seq_id
    (one shuffle of the corpus — the irreducible cost of physically
    grouping sequence members). The per-sequence concat sorts a
    bounded array (docs-per-sequence ≤ budget/min-doc-tokens), never a
    global order.
    """
    from secure_agent_api_vector_search_spark.operators.packing import pack_sequences

    asg = pack_sequences(documents, max_tokens=max_tokens, n_buckets=n_buckets)
    joined = asg.join(documents.select("doc_id", "text"), "doc_id")
    members = F.array_sort(
        F.collect_list(F.struct(F.col("pos_in_seq").alias("p"), F.col("text").alias("t")))
    )
    seqs = (
        joined.groupBy("seq_id")
        .agg(
            F.first("bucket").alias("bucket"),
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_join(members.getField("t"), " ").alias("text"),
        )
    )
    seqs.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)


def write_events_partitioned(events: DataFrame, path: str) -> None:
    """Persist the event stream partitioned by event DATE — the layout
    that makes every time-ranged query a partition-pruned scan (the
    100 TB default for append-only logs: a day's queries touch a day's
    directories, never the table). Readers keep the original ``ts``;
    the derived ``event_date`` partition column is pruning metadata.
    tests/test_pipelines.py asserts the pruned read plan."""
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Persist a table bucketed (hash-clustered) + sorted on the join
    key — Spark's co-located-join layout.

    At 100 TB the dominant recurring cost of fact-fact joins is the
    shuffle of both sides on the join key. Bucketing pays that shuffle
    ONCE at write time: every future equi-join (or aggregation) on
    ``bucket_cols`` between tables bucketed with the same count reads
    pre-clustered files and plans a sort-merge join with NO Exchange on
    either side (and no Sort, via ``sortBy``). tests/test_pipelines.py
    asserts the exchange-free plan.

    The table is external (data at ``path``); bucket metadata lives in
    the session catalog, which is the part parquet files alone cannot
    carry — plain `.parquet()` readers see ordinary files.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def bucketed_tables(spark: SparkSession, left: str, right: str) -> tuple[DataFrame, DataFrame]:
    """Read two same-bucketed tables for a shuffle-free equi-join."""
    return spark.table(left), spark.table(right)


def curate_corpus(
    spark: SparkSession,
    raw_jsonl: str,
    out_dir: str,
    eval_max_id: int = 20,
    min_tokens: int = 10,
    min_quality: float = 0.5,
    max_contamination: float = 0.5,
    near_dup_threshold: float = 0.5,
    n_shards: int = 32,
    epoch_seed: str = "epoch-0",
    strip_spans_k: int | None = None,
    lm_tail_filter: bool = False,
    lm_source: str = "src0",
    html_input: bool = False,
    max_link_density: float = 0.5,
    expectations: list[tuple] | None = None,
    leakage_audit: bool = False,
    stage_seconds: dict | None = None,
) -> dict:
    """The end-to-end training-corpus curation job, raw dump → training
    shards — every stage an operator this engine already gates:

        raw JSONL (ingest_formats: PERMISSIVE + quarantine)
          → [optional, html_input] WET extraction (textops.html_extract):
            strip markup, decode entities, and drop nav/boilerplate
            pages whose link_density exceeds ``max_link_density``;
            n_chars is recounted for rewritten rows only
          → quality gate (token floor + composite score, textops)
          → exact/normalized dedup (keep-min-id, dedup.dedup_exact
            on normalized fingerprints)
          → near-dup collapse (MinHash-LSH pairs → connected
            components keep-one, the scale path)
          → [optional, strip_spans_k] span-level ExactSubstr strip
            (operators/substr.py): doc-LEVEL dedup keeps documents
            that still share long boilerplate runs; this removes the
            runs themselves (keeper copy preserved), drops documents
            stripping empties, and rewrites n_chars for the changed
            rows
          → benchmark decontamination (8-gram overlap vs the eval
            split, curation.contamination_check)
          → [optional, lm_tail_filter] CCNet-style LM quality cut
            (curation.lm_likelihood_buckets trained on ``lm_source``):
            per-language 'tail' third dropped
          → deterministic split (curation.dataset_split)
          → train split materialized as epoch shards
            (curation.write_epoch_shards)

    Stage ORDER is the load-bearing design: quality gating first
    (cheap scan predicates drop rows before anything pays for them),
    exact dedup before near-dup (LSH candidate volume scales with
    corpus size), decontamination after dedup (one representative per
    group is all that needs checking). Every stage is a distributed
    plan from the gated operator set; the only driver-side values are
    the returned stage counts.

    Returns a stage-count audit dict — the "where did my data go"
    record a 100 TB curation run must produce (quarantined / gated /
    dedup-dropped / contaminated counts, plus per-split sizes).
    Rejected-stage outputs land under ``{out_dir}/rejects/<stage>`` so
    every dropped row stays queryable.

    Each stage is materialized exactly once, as an eager
    ``localCheckpoint`` that also cuts the lineage, and every audit
    count is a metric observed on that checkpoint or on a parquet
    write that runs anyway; reject paths are written from the
    checkpointed frames.
    """
    from secure_agent_api_vector_search_spark.functions import text as X
    from secure_agent_api_vector_search_spark.operators import dedup as D
    from secure_agent_api_vector_search_spark.operators.components import keep_first
    from secure_agent_api_vector_search_spark.operators.curation import (
        contamination_check,
        dataset_split,
        write_epoch_shards,
    )
    from secure_agent_api_vector_search_spark.sources.ingest_formats import (
        load_jsonl_documents,
    )

    counts: dict[str, int] = {}
    every = F.lit(True)

    def run(df: DataFrame, path: str | None = None, **counted: Column) -> DataFrame:
        """Run ``df``'s one action — the parquet write to ``path``, else
        an eager local checkpoint — counting the rows that meet each
        ``counted`` condition on that same pass (``obs.get`` waits for
        the action, so an Observation goes only where one runs here)."""
        obs = Observation()
        if counted:
            df = df.observe(obs, *[F.count(F.when(c, 1)).alias(k) for k, c in counted.items()])
        if path is None:
            df = df.localCheckpoint()
        else:
            df.write.mode("overwrite").parquet(f"{out_dir}/{path}")
        counts.update(obs.get if counted else {})
        return df

    docs, quarantine = load_jsonl_documents(spark, raw_jsonl)
    docs = run(docs, ingested=every)
    run(quarantine, "rejects/parse", quarantined=every)

    if expectations:
        from secure_agent_api_vector_search_spark.operators.expectations import (
            check_expectations,
        )

        report = run(check_expectations(docs, expectations))
        run(report, "expectations")
        failed = [
            r["rule"] for r in report.collect()
            if r["rule"] != "_rows" and not r["passed"]
        ]
        counts["expectations_failed"] = len(failed)
        if failed:
            # a broken drop must stop BEFORE anything expensive runs —
            # the report parquet holds the per-rule counts
            raise ValueError(
                f"curate_corpus: data expectations failed for {failed}; "
                f"report at {out_dir}/expectations"
            )

    if html_input:
        from secure_agent_api_vector_search_spark.operators.textops import (
            html_extract,
        )

        linky = F.col("link_density") > max_link_density
        rewritten = run(_rejoin_rewritten(docs, html_extract(docs), "extracted_text"),
                        after_html_extract=~linky)
        counts["link_density_dropped"] = counts["ingested"] - counts["after_html_extract"]
        run(rewritten.filter(linky).drop("link_density"), "rejects/link_density")
        docs = rewritten.filter(~linky).drop("link_density")

    gated = run(docs.filter((X.token_count("text") >= min_tokens)
                            & (X.quality_score("text") >= min_quality)),
                after_quality=every)
    run(docs.join(gated.select("doc_id"), "doc_id", "left_anti"), "rejects/quality")

    # exact/normalized dedup: keep-min-id per normalized fingerprint —
    # the combiner-safe groupBy form (operators/dedup.py), NOT a window
    # over the fingerprint, so a viral duplicate group can never become
    # one unsplittable sort partition
    exact_kept = D.dedup_normalized_keep_first(gated)

    # near-dup collapse at scale: banded MinHash pairs → components
    norm = exact_kept.select("doc_id", X.normalized_text("text").alias("text"))
    pairs = D.minhash_near_dup_pairs(norm, threshold=near_dup_threshold)
    if leakage_audit:
        # the audit reuses this exact pair frame (pairs=): checkpointed,
        # the band join + verify runs once for both consumers
        pairs = run(pairs)
    deduped = run(keep_first(exact_kept, pairs.select("id_a", "id_b"), id_col="doc_id"),
                  after_dedup=every)
    run(gated.join(deduped.select("doc_id"), "doc_id", "left_anti"), "rejects/dedup")

    if strip_spans_k is not None:
        from secure_agent_api_vector_search_spark.operators.substr import (
            strip_dup_spans,
        )

        # one observed pass over the rejoin while it still sees the old
        # text: emptied, changed-but-kept (boilerplate removed, doc
        # retained) and kept documents
        text = F.col("text")
        stripped = strip_dup_spans(deduped, k=strip_spans_k).withColumnRenamed("text", "_new")
        rejoined = run(
            _rejoin_rewritten(deduped.withColumn("_old", text), stripped, "_new")
            .withColumn("_stripped", text != F.col("_old")).drop("_old"),
            span_emptied=text == "",
            span_stripped_docs=(text != "") & F.col("_stripped"),
            after_span_strip=text != "",
        ).drop("_stripped")
        run(rejoined.filter(text == ""), "rejects/span_empty")
        deduped = rejoined.filter(text != "")

    # the eval slice (doc_id < eval_max_id) is RESERVED, not dropped:
    # it is the benchmark the decontamination pass protects, so it
    # leaves the training pipeline here — written and counted so the
    # stage arithmetic closes (after_dedup = eval_reserved +
    # contaminated + after_decontamination)
    run(deduped.filter(F.col("doc_id") < eval_max_id), "eval_reserved", eval_reserved=every)

    # benchmark decontamination: drop training docs with heavy eval overlap
    overlap = contamination_check(deduped, eval_max_id=eval_max_id)
    dirty = overlap.filter(F.col("hit_frac") > max_contamination).select("doc_id")
    train_pool = deduped.filter(F.col("doc_id") >= eval_max_id)
    clean = run(train_pool.join(dirty, "doc_id", "left_anti"), after_decontamination=every)
    run(train_pool.join(clean.select("doc_id"), "doc_id", "left_anti"),
        "rejects/contamination")

    if lm_tail_filter:
        from secure_agent_api_vector_search_spark.operators.curation import (
            lm_likelihood_buckets,
        )

        buckets = lm_likelihood_buckets(clean, lm_source=lm_source).select(
            "doc_id", "bucket"
        )
        kept_lm = run(clean.join(buckets.filter(F.col("bucket") != "tail").select("doc_id"),
                                 "doc_id"),
                      after_lm_filter=every)
        run(clean.join(kept_lm.select("doc_id"), "doc_id", "left_anti"), "rejects/lm_tail")
        clean = kept_lm

    if leakage_audit:
        from secure_agent_api_vector_search_spark.operators.curation import (
            split_leakage_check,
        )

        # AMORTIZED audit: reuse the verified near-dup pair frame the
        # dedup stage already computed (pairs=) instead of rebuilding
        # the banded pairs — the audit is O(pairs), sub-second. Same
        # default seed as the dataset_split below, so the audited
        # split IS the shipped split. Over dedup's own pair frame this
        # is the pipeline's no-leakage POSTCONDITION: keep_first drops
        # one member of every pair, so a nonzero count means the
        # dedup/keep-first stage regressed (an audit at a looser
        # threshold than dedup's needs a pair frame built at that
        # threshold — pass it straight to split_leakage_check).
        import time as _time

        _t0 = _time.perf_counter()
        run(split_leakage_check(clean, threshold=near_dup_threshold, pairs=pairs),
            "leakage_audit", leakage_pairs=every)
        if stage_seconds is not None:
            # in-pipeline audit cost: with pairs= supplied this is a
            # filter + two split joins, NOT a banded rebuild — the
            # bench records it next to the self-building shared31 form
            stage_seconds["leakage_audit"] = round(
                _time.perf_counter() - _t0, 3
            )

    # split sizes are observed on the split's checkpoint: write_epoch_shards
    # reads the train frame twice (epoch order + payload join)
    part = F.col("split")
    split = run(clean.join(dataset_split(clean).select("doc_id", "split"), "doc_id"),
                split_train=part == "train", split_val=part == "val",
                split_test=part == "test")
    for name in ("train", "val", "test"):
        rows = split.filter(part == name).drop("split")
        if name == "train":
            write_epoch_shards(
                rows, f"{out_dir}/train_shards", n_shards=n_shards,
                seed=epoch_seed,
            )
        else:
            run(rows, name)
    return counts
