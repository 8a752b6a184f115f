"""Streaming document ingest with embedding backfill ([EXT],
SURVEY.md §2.9).

The reference claims "Real-time RAG: as soon as a new policy is
added … it is immediately searchable" (README.md:69) — in Postgres
that is just transactional visibility. The Spark-native equivalent is
Structured Streaming: `readStream` on an arrival directory → embed via
the batched pandas UDF (the sql/04_embeddings.sql:5-6 backfill, run
incrementally instead of as a full-table UPDATE) → `foreachBatch`
append to the serving corpus. Checkpointing gives exactly-once appends;
no watermark is needed because the capability is ingest freshness, not
event-time analytics (events.py covers that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from secure_agent_api_vector_search_spark.embedder import embed_udf

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _epoch_overwrite(df: DataFrame, path: str, epoch_id: int) -> None:
    """Epoch-partitioned dynamic-overwrite write: the idempotence key of
    every foreachBatch sink in this module — a replayed epoch rewrites
    its own ``_epoch_id`` partition instead of appending duplicates."""
    (
        df.withColumn("_epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch_id")
        .parquet(path)
    )



def embed_documents(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Attach embeddings to a (batch or streaming) documents frame —
    the incremental form of the reference's one-shot UPDATE backfill."""
    return docs.withColumn("embedding", embed_udf(dim)(F.col("text")))


def start_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
) -> StreamingQuery:
    """readStream(parquet dir) → embed → append parquet, exactly-once
    via checkpoint. `maxFilesPerTrigger` bounds batch size so embedding
    latency stays flat as the directory grows."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    embedded = embed_documents(stream, dim)
    return (
        embedded.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_dedup_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
) -> StreamingQuery:
    """Streaming ingest with EXACTLY-ONCE documents: re-delivered or
    re-crawled doc_ids are dropped before the (expensive) embed stage.

    `dropDuplicates` on a streaming frame keeps the seen-key set in the
    state store — with checkpointing it survives restarts, so a source
    that replays files (every at-least-once crawler) still yields each
    document once. State is keyed by doc_id only (no watermark column
    in this source), which is the right call for a corpus: a re-crawl
    of an old document months later is STILL a duplicate — dedup state
    must not age out. At 100 TB of *state* the RocksDB state store
    backend holds it on disk per-partition; the key is 8 bytes/doc.
    Dedup runs BEFORE embedding so duplicate payloads never reach the
    Python workers — order matters at scale.
    """
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    deduped = stream.dropDuplicates(["doc_id"])
    embedded = embed_documents(deduped, dim)
    return (
        embedded.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_fingerprint_dedup_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
) -> StreamingQuery:
    """Streaming ingest deduplicating on CONTENT, not id: the streaming
    completion of operators/dedup.py::dedup_incremental. Keep-min-id
    holds WITHIN a micro-batch; ACROSS epochs the policy is first-epoch-
    wins — once content is admitted to the ledger, a later epoch
    delivering a smaller doc_id for the same content cannot displace
    the earlier representative (inherent to an append-only ledger), so
    a streamed corpus can differ from a one-shot batch dedup of the
    same rows when a lower-id duplicate arrives in a later epoch.

    `start_dedup_ingest` keys its state on doc_id, which misses the
    commonest real duplicate — the same document re-crawled under a NEW
    id (mirrors, trackers, repost). Here the dedup key is the 16-byte
    md5 of the normalized text (case/punct/whitespace-folded). A
    streaming `dropDuplicates` on that key would ALMOST work, but it
    keeps an arbitrary in-batch representative (partition-order
    dependent), so a replay could emit a different row than the batch
    operator on identical input. Instead each micro-batch runs the
    dedup_incremental recipe through foreachBatch: batch-local
    keep-MIN-id per fingerprint, then an anti-join against the durable
    fingerprint LEDGER of all PRIOR epochs (`{out_dir}/_fp_ledger`,
    16 bytes per distinct document — the same artifact the batch
    operator's scale note calls for). Both the survivors and the
    ledger delta land under `_epoch_id` partitions with dynamic
    overwrite, and the ledger read excludes the current epoch, so a
    replayed epoch re-derives byte-identical output — effectively
    exactly-once AND deterministic. Content state never ages out (a
    month-later re-crawl is STILL a duplicate). Dedup runs BEFORE the
    embed stage, so duplicate payloads never reach the Python workers.
    """
    from secure_agent_api_vector_search_spark.functions import text as X

    ledger_dir = f"{out_dir}/_fp_ledger"
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )

    def _dedup(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        if batch_df.isEmpty():
            return
        tagged = batch_df.withColumn("_fp", F.md5(X.normalized_text("text")))
        # within-batch keep-min-id via ONE combiner-safe aggregate: a
        # flood of one document inside a micro-batch must not pile into
        # a window partition, and min over the FULL row struct (doc_id
        # leads, so the policy is still keep-min-id) makes the
        # representative a deterministic function of the batch CONTENTS
        # — retried duplicate rows collapse, and replay cannot pick a
        # different row the way dropDuplicates' partition-order pick
        # could
        cols = [c for c in tagged.columns if c != "_fp"]
        local = (
            tagged.groupBy("_fp")
            .agg(F.min(F.struct(*cols)).alias("_r"))
            .select("_fp", "_r.*")
        )
        # explicit schema: an all-duplicates epoch leaves the ledger dir
        # with zero part files, which would fail schema INFERENCE and —
        # under a broad except — silently disable dedup forever. With
        # the schema given, an empty dir reads as an empty frame; only
        # a genuinely missing path (first epoch) raises, and ONLY
        # AnalysisException is treated as that case — any other read
        # failure must surface, not silently re-admit duplicates.
        try:
            seen = (
                spark.read.schema("_fp string, _epoch_id int")
                .parquet(ledger_dir)
                .filter(F.col("_epoch_id") < int(epoch_id))
                .select("_fp")
            )
            # no eager probe needed: with an explicit schema the read
            # itself raises PATH_NOT_FOUND at .parquet() for a missing
            # dir (verified on this Spark build), so a head(1) here is
            # one wasted scan job per epoch on the streaming hot path
            fresh = local.join(seen, "_fp", "left_anti")
        except AnalysisException:  # first epoch: no ledger yet
            fresh = local
        fresh = fresh.persist()
        _epoch_overwrite(embed_documents(fresh.drop("_fp"), dim), out_dir, epoch_id)
        _epoch_overwrite(fresh.select("_fp"), ledger_dir, epoch_id)
        fresh.unpersist()

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_dedup)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_indexed_ingest(
    spark: SparkSession,
    in_dir: str,
    index_path: str,
    checkpoint_dir: str,
    dim: int = 64,
) -> StreamingQuery:
    """Streaming ingest INTO an IVF index: readStream → embed → assign
    each new vector to its nearest EXISTING centroid (a pure map, no
    shuffle — operators/ivf.py::assign_lists) → exactly-once append to
    the index's partitioned lists store.

    This closes the freshness gap between `start_ingest` and `ivf_topk`:
    without it, streamed documents are invisible to the index until a
    full rebuild. Assign-only indexing is the standard IVF incremental
    recipe (what faiss `add` does after `train`): centroids are frozen,
    so recall degrades only as far as the ingest distribution drifts
    from the training distribution — the periodic `build_ivf` +
    `write_ivf` rebuild is the compaction story, exactly like pgvector's
    guidance to reindex after heavy writes (reference
    sql/05_vector_index.sql's ivfflat has the same property).

    A probe re-reading `{index_path}/lists` (read_ivf → ivf_search) sees
    appended rows immediately; partition pruning keeps working because
    the append is `partitionBy(list_id)` into the same layout.
    """
    from secure_agent_api_vector_search_spark.operators.ivf import assign_lists

    cent_rows = (
        spark.read.parquet(f"{index_path}/centroids").orderBy("list_id").collect()
    )
    centroids = [list(r["centroid"]) for r in cent_rows]
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    assigned = assign_lists(embed_documents(stream, dim), centroids)

    # foreachBatch, NOT the direct parquet sink: the streaming sink
    # plants a _spark_metadata log that makes every later read of the
    # directory ignore files it didn't write — including the entire
    # batch-built index. A plain batch append per micro-batch coexists
    # with the build_ivf/write_ivf layout; the checkpoint still tracks
    # source progress (at-least-once on a mid-write crash, the standard
    # foreachBatch contract — an index tolerates a duplicate vector,
    # and compaction rebuilds clean it up).
    def _append(batch_df: DataFrame, _epoch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("list_id").parquet(
            f"{index_path}/lists"
        )

    return (
        assigned.writeStream.outputMode("append")
        .foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_curated_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    rejected_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
    min_tokens: int = 10,
    max_top_word_frac: float = 0.5,
) -> StreamingQuery:
    """Streaming ingest with the curation gate BEFORE the embed stage:
    quality-rejected documents never reach the Python workers, and the
    rejects are appended to a quarantine path instead of vanishing
    (curation must be auditable — at 100 TB "we dropped 3% of docs"
    needs a where and a why).

    The gate is stateless per-document scoring (token count + top-word
    share, the streaming-safe subset of textops.doc_repetition — the
    full bigram mode needs a per-doc groupBy, which a foreachBatch
    applies per micro-batch here), so it adds zero streaming state.

    Routing both destinations from one stream uses foreachBatch, whose
    base contract is at-least-once — a crash between the two writes (or
    before the checkpoint commit) replays the epoch. Both sinks are
    therefore keyed by epoch: each write lands under an ``_epoch_id``
    partition with dynamic partition OVERWRITE, so a replayed epoch
    rewrites its own partition instead of appending duplicates —
    effectively exactly-once for both outputs. Readers of either path
    see an extra ``_epoch_id`` partition column (the idempotence key,
    and free provenance: which micro-batch produced each row).

    Null-text documents (and any doc producing zero words) cannot score;
    the gate coalesces their verdict to REJECT so they land in the
    quarantine — rejects never silently vanish.
    """
    ws = F.split(F.regexp_replace(F.trim(F.col("text")), " +", " "), " ")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )

    def _route(batch_df: DataFrame, epoch_id: int) -> None:
        uni = (
            batch_df.select("doc_id", F.explode(ws).alias("w"))
            .groupBy("doc_id", "w").count()
            .groupBy("doc_id")
            .agg(F.sum("count").alias("_n_words"), F.max("count").alias("_top"))
        )
        scored = batch_df.join(uni, "doc_id", "left").withColumn(
            "_keep",
            F.coalesce(
                (F.col("_n_words") >= min_tokens)
                & (F.col("_top") / F.col("_n_words") <= max_top_word_frac),
                F.lit(False),
            ),
        )
        survivors = scored.filter("_keep").drop("_n_words", "_top", "_keep")
        rejects = scored.filter(~F.col("_keep")).drop("_n_words", "_top", "_keep")
        _epoch_overwrite(embed_documents(survivors, dim), out_dir, epoch_id)
        _epoch_overwrite(rejects, rejected_dir, epoch_id)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_route)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_merge_upsert_ingest(
    spark: SparkSession,
    in_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    dim: int = 64,
    n_buckets: int = 64,
) -> StreamingQuery:
    """Streaming CDC-style upsert: arriving document versions are
    embedded and MERGEd into a :func:`pipelines.write_merge_table`
    keyed layout — the streaming completion of the reference's
    `UPDATE ... SET abstract_embeddings` backfill (sql/04_embeddings.sql:5-6,
    S6): new keys insert, existing keys are replaced in place, untouched
    buckets are never rewritten.

    Exactly-once story: foreachBatch is at-least-once, but
    :func:`pipelines.merge_upsert` is IDEMPOTENT per batch — a replayed
    epoch re-derives the same touched-bucket set and dynamic-overwrites
    those partitions with identical content (micro-batches are
    sequential, so a replay always sees the table either before or
    after its own merge, never interleaved with a later one). Duplicate
    keys WITHIN a micro-batch are collapsed deterministically before
    the merge (min text per key — with no version column, any
    deterministic pick keeps replays byte-identical; pass data with a
    version column and reduce on it upstream for true last-writer-wins).

    Scale: per micro-batch cost is the embed of the batch plus a
    rewrite of only the buckets containing changed keys — at 100 TB
    with bounded `maxFilesPerTrigger`, steady-state ingest cost is
    proportional to the CHANGE rate, not the table size.
    """
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        from secure_agent_api_vector_search_spark.pipelines import merge_upsert

        if batch_df.isEmpty():
            return
        w = Window.partitionBy(key_col).orderBy(
            F.col("text").asc_nulls_last(), "lang", "source"
        )
        once = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merge_upsert(
            spark, table_path, embed_documents(once, dim), key_col, n_buckets
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_neardup_dedup_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
    threshold: float = 0.7,
    shingle_k: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
) -> StreamingQuery:
    """Streaming NEAR-duplicate ingest: the MinHash completion of
    :func:`start_fingerprint_dedup_ingest`. The fingerprint surface
    only catches byte-identical (normalized) re-crawls; real streams
    deliver near-copies — boilerplate drift, appended trackers, small
    edits — that hash differently but Jaccard-match. Each micro-batch
    runs :func:`operators.dedup.minhash_incremental` against the
    ADMITTED CORPUS of all prior epochs: batch docs with a verified
    near-dup already admitted are dropped, the batch's own near-dup
    clusters collapse to their min-id representative, and survivors
    land embedded under ``_epoch_id`` partitions.

    Determinism/replay contract (same as the fingerprint surface):
    keep-min-id holds WITHIN a micro-batch; ACROSS epochs the policy
    is first-epoch-wins (an admitted representative is never displaced
    by a later lower-id near-copy — inherent to an append-only
    corpus). The seen-side read excludes the current epoch, and the
    sink is an epoch-partitioned dynamic overwrite, so a replayed
    epoch re-derives byte-identical output.

    Scale shape: the admitted corpus is re-featurized per epoch — one
    map pass, no shuffle, the right trade up to moderate corpus sizes
    (minhash_incremental's docstring spells out the 100 TB
    steady-state: persist the seen feature frame as a band-hash-
    bucketed table and rebind stage 1 to it, making per-batch cost
    O(batch) + one band-key shuffle). Same hash-family discipline:
    ``shingle_k/num_hashes/num_bands/seed`` must stay constant for the
    life of ``out_dir`` — signatures are only comparable within one
    family.
    """
    from secure_agent_api_vector_search_spark.operators.dedup import (
        minhash_incremental,
    )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    seen_schema = DOCS_SCHEMA + ", embedding array<float>, _epoch_id int"

    def _dedup(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        if batch_df.isEmpty():
            return
        # explicit schema: an all-duplicates epoch leaves out_dir with
        # an empty partition — inference would fail and a broad except
        # would silently disable dedup (the fingerprint surface's
        # lesson); only a genuinely missing path raises.
        try:
            seen = (
                spark.read.schema(seen_schema)
                .parquet(out_dir)
                .filter(F.col("_epoch_id") < int(epoch_id))
                .select("doc_id", "text")
            )
            # missing out_dir raises at .parquet() (explicit schema) —
            # no eager probe job needed; see the fingerprint surface
        except AnalysisException:  # first epoch: nothing admitted yet
            seen = spark.createDataFrame([], DOCS_SCHEMA).select("doc_id", "text")
        fresh = minhash_incremental(
            batch_df,
            seen,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            num_bands=num_bands,
            threshold=threshold,
            seed=seed,
        )
        _epoch_overwrite(embed_documents(fresh, dim), out_dir, epoch_id)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_dedup)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


IMAGE_DOCS_SCHEMA = "doc_id long, payload binary"


def start_image_dedup_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
) -> StreamingQuery:
    """Streaming PERCEPTUAL image dedup: the multimodal completion of
    :func:`start_neardup_dedup_ingest`. Each micro-batch of (doc_id,
    payload) images is decoded through the real codecs (JPEG/PNG/GIF/
    WebP-lossless/netpbm, magic-sniffed), fingerprinted with the 64-bit
    average hash, and screened at Hamming ≤ ``max_hamming`` against
    BOTH the batch itself and the admitted corpus of all prior epochs:
    a re-encode or near-copy of an admitted image is dropped (format
    changes don't evade the screen — the mixed-format tests pin
    PNG/GIF/WebP/netpbm copies of one raster at Hamming 0); the batch's
    own near-dup clusters collapse to their min-id representative; a
    batch doc transitively linked to an admitted image (via another
    batch doc) is dropped too — component semantics, not pairwise.

    Determinism/replay contract (same as the text surfaces): keep-min-id
    holds WITHIN a micro-batch; ACROSS epochs first-epoch-wins; the
    seen-side read excludes the current epoch and the sink is an
    epoch-partitioned dynamic overwrite, so a replayed epoch re-derives
    byte-identical output.

    Scale shape — and one improvement over the text surface: the sink
    STORES each admitted image's fingerprint, so the per-epoch seen
    side is a 2-column (doc_id, fp) parquet scan — no re-decode of the
    admitted corpus, ever. The Hamming screen is the shared banded
    core (4×16-bit chunk buckets, vectorized XOR+popcount verify), so
    per-epoch cost is O(batch + seen-fp-scan) with the pigeonhole
    recall guarantee at ``max_hamming`` ≤ 3.
    """
    from secure_agent_api_vector_search_spark.operators.components import (
        connected_components,
    )
    from secure_agent_api_vector_search_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from secure_agent_api_vector_search_spark.operators.multimodal import image_ahash

    stream = (
        spark.readStream.schema(IMAGE_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    sink_schema = IMAGE_DOCS_SCHEMA + ", fp long, _epoch_id int"

    def _dedup(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        if batch_df.isEmpty():
            return
        try:
            seen_fp = (
                spark.read.schema(sink_schema)
                .parquet(out_dir)
                .filter(F.col("_epoch_id") < int(epoch_id))
                .select("doc_id", "fp")
            )
        except AnalysisException:  # first epoch: nothing admitted yet
            seen_fp = spark.createDataFrame([], "doc_id long, fp long")
        batch_fp = image_ahash(batch_df.select("doc_id", "payload")).persist()
        try:
            pairs = hamming_neardup_pairs(
                batch_fp.unionByName(seen_fp), id_col="doc_id",
                max_hamming=max_hamming,
            )
            comp = connected_components(pairs)
            seen_ids = seen_fp.select(F.col("doc_id").alias("node"))
            # components touching ANY admitted image drop entirely
            # (covers transitive batch→batch→seen links); remaining
            # batch nodes keep the component minimum
            seen_comps = comp.join(seen_ids, "node").select("comp").distinct()
            batch_nodes = comp.join(
                batch_fp.select(F.col("doc_id").alias("node")), "node"
            )
            drop = (
                batch_nodes.join(F.broadcast(seen_comps), "comp", "left_semi")
                .select("node")
                .unionByName(
                    batch_nodes.join(
                        F.broadcast(seen_comps), "comp", "left_anti"
                    )
                    .withColumn(
                        "_min", F.min("node").over(Window.partitionBy("comp"))
                    )
                    .filter(F.col("node") != F.col("_min"))
                    .select("node")
                )
                .withColumnRenamed("node", "doc_id")
            )
            fresh = (
                batch_df.join(batch_fp, "doc_id")
                .join(drop, "doc_id", "left_anti")
                .select("doc_id", "payload", "fp")
            )
            _epoch_overwrite(fresh, out_dir, epoch_id)
        finally:
            batch_fp.unpersist()

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_dedup)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
