"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "warm_reps": {...},
     "rows_out": {...}, "queries": {...}, "queries_warm_median": {...},
     "errors": {...}, "lsh_diagnostics": {...}, "dim768": {...},
     "recall": {...}, "ann_crossover": {...}, "pipeline_e2e": {...},
     ...totals..., "queries_warm": {...}, "shared31_warm": {...}}

(bulky raw evidence first, per-query warm minima last — a
tail-truncated capture still carries the comparison numbers)

Each query is forced to full execution with the `noop` sink (computes
everything, writes nothing) so the timing covers scan → compute →
result, never a lazy plan. Every query runs 1 cold + N warm passes
(N = $SPARK_GRAFT_BENCH_REPS, default 3): `queries` records the cold
pass (first execution: scan + codegen + Python-worker spin-up
included); `queries_warm` is the MIN over the warm reps (the plan's
intrinsic cost — the number least contaminated by co-tenant box noise)
and `queries_warm_median` the median (the typical steady-state number).
`warm_reps` keeps the raw per-rep timings so a cross-round comparison
can always tell a plan change (min moved) from box noise (min stable,
median/raw spread moved). `value` is the cold total.

`rows_out` records each query's result row count from one untimed
execution — semantic evidence that a timing delta between rounds is
(or is not) accompanied by a plan/semantics change.

`recall` records recall@10 of the approximate ANN tiers (IVF at the
benched nprobe, PQ-rerank, SQ-rerank) against one exact `knn_join`
ground-truth pass over sampled corpus queries — index-quality
regressions become visible per round without reading test code.

A query that raises is recorded in `errors` and the run CONTINUES —
round 2 lost its entire bench artifact to one broken query aborting the
harness; the artifact now always exists, with the failure visible.

`lsh_diagnostics` logs candidate-pair count / max bucket width /
over-width bucket count for the LSH dedup queries, so banding skew is
visible per round instead of inferred from timings.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import queries
from secure_agent_api_vector_search_spark.session import get_session

# Headline set: the reference surface (lookup/top-k/find-similar), the
# scale-path vector ops (IVF, LSH near-dup, kNN join), the relational
# suite, events analytics, dedup family, and text analysis. Names match
# queries() / SURVEY.md §2.
HEADLINE = [
    "point_lookup",
    "vector_topk_cosine",
    "find_similar_records",
    "find_similar_by_text",
    "knn_join",
    "ivf_topk",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_customers_by_revenue",
    "orders_window_top3",
    "revenue_by_region",
    "events_hourly",
    "events_sessionize",
    "orders_asof_event",
    "revenue_rollup",
    "orders_semi_late_lines",
    "customers_without_orders",
    "brand_setops",
    "price_quantiles_by_brand",
    "region_priority_pivot",
    "part_small_qty_revenue",
    "events_interval_join",
    "bm25_search",
    "dedup_exact_keep_first",
    "minhash_near_dup",
    "embedding_neardup_lsh",
    "token_stats",
    "doc_quality",
    "hybrid_search",
    "embed_texts",
    # --- SHARED31 boundary: everything above is the round-1..3 set ---
    # round-4 additions: LLM-pipeline operators + funnel
    "duplicate_ngram_stats",
    "semantic_dedup",
    "pack_sequences",
    "image_decode_features",
    "audio_decode_features",
    "events_funnel",
    "vector_topk_grouped",
    "events_retention",
    "events_engagement",
    "top_terms_by_lang",
    # round-5 additions: incremental-ingest dedup, deterministic epoch
    # shuffle, reciprocal-rank-fusion hybrid search
    "dedup_incremental",
    "epoch_shuffle",
    "rrf_search",
    "knn_join_grouped",
    "embedding_coverage",
    # round-6 additions: chunking + mixture sampling + span-level
    # exact-substring dedup
    "chunk_documents",
    "stratified_sample",
    "duplicated_spans",
    "strip_dup_spans",
    "mixture_upsample",
    "lm_likelihood_buckets",
    "hard_negatives",
    "source_drift_tvd",
    "split_leakage_check",
    "events_hourly_anomaly",
    "build_vocab",
    "tokenize_to_ids",
    "video_frame_features",
    "image_neardup",
    # round-6 session-5 additions: bloom-prefiltered incremental dedup,
    # exact n-gram heavy hitters, window-free percentile cut, WET
    # extraction, and the Q6/Q18 relational shapes
    "dedup_incremental_bloom",
    "heavy_hitter_ngrams",
    "quality_percentile_cut",
    "html_extract",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "q2_min_cost_supplier",
    "data_expectations",
    # round-7 addition: the loader-facing subword encode composition
    "bpe_encode",
    # round-8 additions: the same composition at its pipeline shape
    # (materialize=True — no 2x recompute; the steady-state number),
    # and the two real-codec decode paths
    "bpe_encode_pipeline",
    "image_decode_png",
    "image_decode_jpeg",
    # round-11 additions: the mixed-media structure pass and the
    # linear-shape embedding near-dup
    "media_metadata",
    "embedding_neardup_clustered",
]

# The cross-round comparison set: the 31 queries every round since r1 has
# benched. BASELINE comparisons and round-over-round deltas use THESE
# subtotals; the full-set total keeps growing as operators are added, so
# it is not a comparable number on its own.
SHARED31 = HEADLINE[:31]


def _lsh_diagnostics(spark, sf_dir: str) -> dict:
    """Bucket-skew stats for the LSH queries, keyed by query name."""
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark import catalog as C
    from secure_agent_api_vector_search_spark.functions import text as X
    from secure_agent_api_vector_search_spark.operators import dedup as D

    out: dict[str, dict] = {}
    try:
        docs = C._docs_with_noisy_dups(spark, sf_dir).select(
            "doc_id", X.normalized_text("text").alias("text")
        )
        row = D.minhash_bucket_stats(docs).collect()[0]
        out["minhash_near_dup"] = row.asDict()
    except Exception as exc:  # diagnostics never fail the bench
        out["minhash_near_dup"] = {"error": repr(exc)}
    try:
        emb = C._embeddings_with_near_dups(spark, sf_dir)
        row = D.embedding_lsh_bucket_stats(emb, threshold=0.85, dim=C.DIM).collect()[0]
        out["embedding_neardup_lsh"] = row.asDict()
    except Exception as exc:
        out["embedding_neardup_lsh"] = {"error": repr(exc)}
    return out


def _dim768_probe(spark, sf_dir: str) -> dict:
    """Reference-dimension parity probe (vector(768), reference
    sql/02_schema.sql:14): embed the document corpus at dim 768 and run
    the flagship exact cosine top-10 against a text query — the full
    U1 path at the reference's true width. Times one cold pass."""
    try:
        from pyspark.sql import functions as F

        from secure_agent_api_vector_search_spark.embedder import embed_text, embed_udf
        from secure_agent_api_vector_search_spark.operators.topk import topk_similar
        from secure_agent_api_vector_search_spark.sources.tables import load_documents

        # Two honest numbers, matching the reference's data model (the
        # corpus vectors are STORED, sql/02_schema.sql:14; a query embeds
        # only its own text, tools.yaml:24):
        #   corpus_embed_768_sec — the one-time ingest/backfill cost of
        #     embedding the whole corpus at dim 768, materialized. A
        #     modest 8-way fan: measured at sf0.1, 1 partition = 4.8s
        #     cold (serial python worker), 8 = 0.7s; 32+ regresses on
        #     worker spin-up at these corpus sizes (500-5k docs).
        #   topk_cosine_768_sec — the flagship per-query path over the
        #     stored vectors: driver query embed + full-scan cosine
        #     top-10 (the one Arrow-batched query scorer,
        #     functions/vector.py::fold_query_scorer), first execution.
        docs = load_documents(spark, sf_dir)
        t0 = time.perf_counter()
        emb = (
            docs.repartition(8)
            .select("doc_id", embed_udf(768)(F.col("text")).alias("embedding"))
            .cache()
        )
        emb.count()
        embed_sec = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        q = embed_text("standard procedure for mitigating water damage", 768)
        n = topk_similar(emb, q, k=10, id_col="doc_id").count()
        exact_sec = round(time.perf_counter() - t0, 3)
        # the ANN path at the reference's width: one-time index build
        # (k-means + assign) reported separately from the per-query probe
        from secure_agent_api_vector_search_spark.operators.ivf import (
            build_ivf,
            ivf_search,
        )

        t0 = time.perf_counter()
        index = build_ivf(emb, n_lists=16, id_col="doc_id", seed=42)
        index.assigned.cache().count()
        build_sec = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        n_ivf = ivf_search(index, q, k=10, nprobe=4).count()
        out = {
            "corpus_embed_768_sec": embed_sec,
            "topk_cosine_768_sec": exact_sec,
            "ivf_build_768_sec": build_sec,
            "ivf_probe_768_sec": round(time.perf_counter() - t0, 3),
            "rows": n,
            "rows_ivf": n_ivf,
        }
        index.assigned.unpersist()
        emb.unpersist()
        return out
    except Exception as exc:
        return {"error": repr(exc)}


def _recall_probe(spark, sf_dir: str, n_queries: int = 8, k: int = 10) -> dict:
    """recall@k of the three approximate ANN tiers vs exact ground
    truth, at the same build configuration the bench queries use
    (ivf_topk: n_lists=16 / nprobe=10; pq_topk_rerank: m=16, ksub=32;
    sq_topk_rerank: SQ8 — catalog.py).

    Ground truth is ONE exact `knn_join` pass over `n_queries` corpus
    vectors (every Nth id — deterministic, spread across the id range).
    IVF recall comes from the vectorized `ivf_recall_sweep` at the
    benched nprobe; PQ/SQ have single-query probe APIs, so those loop
    driver-side over the n_queries collected vectors — bounded by
    construction, ~2·n_queries small jobs.

    Truth is metric-matched per tier: cosine for IVF and SQ-rerank
    (their exact ordering), L2 for PQ-rerank (its exact re-rank orders
    by l2sq — on unnormalized vectors the cosine top-k differs, which
    would misreport index quality as a recall loss)."""
    try:
        from pyspark.sql import functions as F
        from secure_agent_api_vector_search_spark.operators import ivf as I
        from secure_agent_api_vector_search_spark.operators import pq as PQ
        from secure_agent_api_vector_search_spark.operators import sq as SQ
        from secure_agent_api_vector_search_spark.operators.knn import (
            ivf_recall_sweep,
            knn_join,
        )
        from secure_agent_api_vector_search_spark.sources.tables import (
            load_embeddings,
        )

        emb = load_embeddings(spark, sf_dir)
        n_corpus = emb.count()
        stride = max(1, n_corpus // n_queries)
        qdf = (
            emb.filter((F.col("vec_id") % stride == 0))
            .limit(n_queries)
            .select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
            )
            .persist()
        )
        qrows = qdf.collect()  # bounded: n_queries rows

        # exact ground truth, one distributed pass
        truth = {
            r["q_id"]: set()
            for r in qrows
        }
        for r in knn_join(qdf, emb, k=k).select("q_id", "neighbor_id").collect():
            truth[r["q_id"]].add(r["neighbor_id"])
        n_truth = sum(len(v) for v in truth.values())

        out: dict[str, float] = {"n_queries": len(qrows), "k": k}

        # IVF at the benched configuration plus the nprobe tradeoff
        # curve (one vectorized sweep; the benched ivf_topk uses
        # nprobe=10 of 16 lists — on the iid-random test corpus, the
        # hardest regime for IVF, the curve shows what the knob buys).
        # The sweep extends far enough to contain the >=0.9 crossing,
        # and `operating_point` records the smallest swept nprobe that
        # clears BASELINE.md's frozen recall bar on THIS (adversarial,
        # cluster-free) corpus; the time half of the frozen target is
        # demonstrated in `ann_crossover` (scan-dominated regime).
        index = I.build_ivf(emb, n_lists=16, seed=42)
        sweep = ivf_recall_sweep(
            index, qdf, emb, k=k, nprobes=(1, 2, 4, 8, 10, 12, 16)
        ).collect()
        out["ivf_nprobe_sweep"] = {
            str(r["nprobe"]): round(float(r["recall_at_k"]), 4) for r in sweep
        }
        out["ivf_benched_nprobe10"] = out["ivf_nprobe_sweep"]["10"]
        op = next(
            (
                (int(r["nprobe"]), round(float(r["recall_at_k"]), 4))
                for r in sweep
                if float(r["recall_at_k"]) >= 0.9
            ),
            None,
        )
        out["operating_point"] = (
            {"nprobe": op[0], "n_lists": 16, "recall_at_k": op[1]}
            if op
            else None
        )

        # PQ / SQ: driver loop over the sampled queries. m=16 (dsub=4
        # on the dim-64 corpus) keeps the benched rerank recall above
        # the >=0.85 contract pinned in tests/test_pq.py — m=8 codes
        # measured 0.75 here (iid vectors quantize hard at dsub=8)
        book = PQ.build_pq(emb, m=16, ksub=32, seed=42)
        codes_pq = PQ.encode_pq(emb, book).persist()
        codes_pq.count()
        params = SQ.build_sq(emb)
        codes_sq = SQ.encode_sq(emb, params).persist()
        codes_sq.count()
        from secure_agent_api_vector_search_spark.operators.topk import topk_similar

        hits_pq = n_truth_pq = hits_sq = 0
        for r in qrows:
            qv = [float(x) for x in r["q_vec"]]
            got = {
                x["vec_id"]
                for x in PQ.pq_topk_rerank(codes_pq, emb, book, qv, k=k).collect()
            }
            truth_l2 = {
                x["vec_id"]
                for x in topk_similar(emb, qv, k=k, metric="l2",
                                      score_name="l2_dist").collect()
            }
            hits_pq += len(got & truth_l2)
            n_truth_pq += len(truth_l2)
            got = {
                x["vec_id"]
                for x in SQ.sq_topk_rerank(codes_sq, emb, params, qv, k=k).collect()
            }
            hits_sq += len(got & truth[r["q_id"]])
        out["pq_rerank"] = round(hits_pq / n_truth_pq, 4)
        out["sq_rerank"] = round(hits_sq / n_truth, 4)
        qdf.unpersist()
        codes_pq.unpersist()
        codes_sq.unpersist()
        return out
    except Exception as exc:
        return {"error": repr(exc)}


def _ann_crossover_probe(
    spark, sf_dir: str, reps: int = 16, n_lists: int = 64, nprobe: int = 8,
) -> dict:
    """BASELINE.md's frozen ANN target ("IVF-probed top-k <= exact-path
    time at recall >= 0.9") demonstrated in the regime it is ABOUT: a
    scan-dominated corpus read from disk, where probing is partition
    pruning (write_ivf partitions by list_id) and the probe touches
    nprobe/lists of the bytes. At the raw gate tables both paths are
    bound by ~0.3-0.5 s of fixed local-mode overhead, so the clause is
    unmeasurable there (see BASELINE.md round-7 addendum); this probe
    scales the SCAN: the documents corpus × 16 deterministic text
    variants, embedded at the reference's dim 768 (~80k vectors,
    ~500 MB parquet), exact full-scan vs a disk IVF probe at
    n_lists=64 / nprobe=8. The variant corpus is genuinely clustered
    (each doc's variants are mutual near-neighbors) — the structure
    real embedding corpora have and the iid `_recall_probe` corpus
    deliberately lacks. Recall is measured on THIS index with one
    `ivf_recall_sweep` pass; times are min over 3 warm reps."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from secure_agent_api_vector_search_spark.embedder import (
            embed_text,
            embed_udf,
        )
        from secure_agent_api_vector_search_spark.operators.ivf import (
            IvfIndex,
            _fit_centroids,
            assign_lists,
            ivf_search,
            read_ivf,
            write_ivf,
        )
        from secure_agent_api_vector_search_spark.operators.knn import (
            ivf_recall_sweep,
        )
        from secure_agent_api_vector_search_spark.operators.topk import topk_similar

        k = 10
        root = tempfile.mkdtemp(prefix="bench_ann_xover_")
        try:
            base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            )
            big = base.crossJoin(
                spark.range(reps).select(F.col("id").alias("rep"))
            ).select(
                (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" variant "), F.col("rep")).alias(
                    "text"
                ),
            )
            t0 = time.perf_counter()
            big.repartition(32).select(
                "doc_id", embed_udf(768)(F.col("text")).alias("embedding")
            ).write.mode("overwrite").parquet(f"{root}/flat")
            embed_sec = round(time.perf_counter() - t0, 3)
            flat = spark.read.parquet(f"{root}/flat")
            t0 = time.perf_counter()
            cents = _fit_centroids(
                flat.sample(fraction=0.1, seed=42), "embedding", n_lists, seed=42
            )
            write_ivf(
                IvfIndex(
                    assign_lists(flat, cents, "embedding"),
                    cents,
                    "doc_id",
                    "embedding",
                    "l2",
                ),
                f"{root}/ivf",
            )
            build_sec = round(time.perf_counter() - t0, 3)
            disk_idx = read_ivf(spark, f"{root}/ivf", id_col="doc_id")
            n = flat.count()
            stride = max(1, n // 8)
            qdf = flat.filter(F.col("doc_id") % stride == 0).limit(8).select(
                F.col("doc_id").alias("q_id"), F.col("embedding").alias("q_vec")
            )
            sweep = ivf_recall_sweep(
                disk_idx, qdf, flat, k=k, nprobes=(nprobe,), c_id="doc_id"
            ).collect()
            recall = round(float(sweep[0]["recall_at_k"]), 4)
            q = embed_text("standard procedure for mitigating water damage", 768)
            probe_ts, exact_ts = [], []
            for _ in range(1 + 3):  # first pass warms the scan, 3 timed
                t0 = time.perf_counter()
                ivf_search(disk_idx, q, k=k, nprobe=nprobe).count()
                probe_ts.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                topk_similar(
                    spark.read.parquet(f"{root}/flat"), q, k=k, id_col="doc_id"
                ).count()
                exact_ts.append(time.perf_counter() - t0)
            probe_sec = round(min(probe_ts[1:]), 3)
            exact_sec = round(min(exact_ts[1:]), 3)
            # --- maintenance block (VERDICT r7 item 6): the index
            # lifecycle AT this crossover scale. A drifted 10% ingest
            # (every vector shifted off-distribution, so rows pile into
            # few stale Voronoi cells) appends through the streaming
            # path's assign-only map + partitioned write; then the
            # maintenance job measures skew and conditionally rebuilds.
            from secure_agent_api_vector_search_spark.operators.ivf import (
                list_balance_stats,
                rebuild_if_skewed,
            )

            t0 = time.perf_counter()
            drift = flat.sample(fraction=0.1, seed=7).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.transform("embedding", lambda x: x + F.lit(3.0)).alias(
                    "embedding"
                ),
            )
            appended = assign_lists(drift, disk_idx.centroids, "embedding")
            appended.write.mode("append").partitionBy("list_id").parquet(
                f"{root}/ivf/lists"
            )
            append_sec = round(time.perf_counter() - t0, 3)
            stats_before = list_balance_stats(
                read_ivf(spark, f"{root}/ivf", id_col="doc_id")
            )
            t0 = time.perf_counter()
            # sample_cap matches the initial build's 10%-sample recipe:
            # an UNCAPPED rebuild fits on the full 88k×768 corpus and
            # was measured at 157 s — 7× the initial build — purely
            # from driver Lloyd time the ~100·k-rows rule says buys
            # nothing. This knob IS the maintenance story at 100 TB.
            rebuilt_idx, rebuilt = rebuild_if_skewed(
                spark, f"{root}/ivf", threshold=4.0, n_lists=n_lists,
                id_col="doc_id", sample_cap=8192,
            )
            rebuild_sec = round(time.perf_counter() - t0, 3)
            maintenance = {
                "append_rows": appended.count(),
                "append_assign_write_sec": append_sec,
                "skew_after_drift": round(stats_before["skew"], 2),
                "rebuild_triggered": bool(rebuilt),
                "measure_and_rebuild_sec": rebuild_sec,
                "skew_after_rebuild": round(
                    list_balance_stats(rebuilt_idx)["skew"], 2
                ),
            }
            return {
                "n_corpus": n,
                "dim": 768,
                "n_lists": n_lists,
                "nprobe": nprobe,
                "k": k,
                "recall_at_k": recall,
                "probe_sec": probe_sec,
                "exact_sec": exact_sec,
                "corpus_embed_sec": embed_sec,
                "index_build_sec": build_sec,
                "meets_frozen_target": bool(
                    recall >= 0.9 and probe_sec <= exact_sec
                ),
                "maintenance": maintenance,
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    except Exception as exc:
        return {"error": repr(exc)}


def _pipeline_probe(spark, sf_dir: str) -> dict:
    """End-to-end `pipelines.curate_corpus` wall numbers (VERDICT r7
    item 2): the raw-dump → training-shards flagship composition a real
    user runs, in both shapes — plain and html_input=True (WET front
    stage). The corpus is written out as the raw JSONL dump the
    pipeline ingests (that write is reported separately — it is fixture
    preparation, not pipeline cost); every stage's rejects/shards land
    under a temp dir. One cold pass each — the pipeline is a
    write-heavy job, not a repeated query, so there is no warm number
    to claim."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from secure_agent_api_vector_search_spark.catalog import _HTML_PRE, _HTML_POST
        from secure_agent_api_vector_search_spark.pipelines import curate_corpus

        root = tempfile.mkdtemp(prefix="bench_pipeline_")
        try:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text", "lang", "source", "n_chars"
            )
            t0 = time.perf_counter()
            docs.write.mode("overwrite").json(f"{root}/raw")
            # html variant: every 5th doc wrapped in real markup (the
            # html_extract gate fixture shape), stale n_chars kept —
            # the pipeline recounts rewritten rows itself
            docs.select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)),
                ).otherwise(F.col("text")).alias("text"),
                "lang", "source", "n_chars",
            ).write.mode("overwrite").json(f"{root}/raw_html")
            prep_sec = round(time.perf_counter() - t0, 3)

            t0 = time.perf_counter()
            stage_sec: dict = {}
            counts = curate_corpus(
                spark, f"{root}/raw", f"{root}/curated",
                n_shards=32, min_quality=0.25,
                leakage_audit=True, stage_seconds=stage_sec,
            )
            plain_sec = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()

            t0 = time.perf_counter()
            counts_html = curate_corpus(
                spark, f"{root}/raw_html", f"{root}/curated_html",
                n_shards=32, min_quality=0.25, html_input=True,
            )
            html_sec = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()

            # amortized leakage audit (VERDICT r8 item 7): the banded-
            # pair build is paid ONCE (reported as pairs_build_sec);
            # the pairs= audit is then one filter + two split joins —
            # compare leakage_audit_pairs_supplied_sec against the
            # shared31 split_leakage_check number, which self-builds
            # its pairs on every call
            from secure_agent_api_vector_search_spark.operators.curation import (
                _lsh_family_for,
                split_leakage_check,
            )
            from secure_agent_api_vector_search_spark.operators.dedup import (
                ngram_jaccard_pairs_lsh,
            )

            t0 = time.perf_counter()
            r_rows, n_bands = _lsh_family_for(0.6)
            pairs = ngram_jaccard_pairs_lsh(
                docs, n=3, threshold=0.6,
                num_hashes=r_rows * n_bands, num_bands=n_bands,
            )
            n_pairs = pairs.count()
            pairs_build_sec = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            n_leaks = split_leakage_check(docs, threshold=0.6, pairs=pairs).count()
            audit_sec = round(time.perf_counter() - t0, 3)
            pairs.unpersist()

            return {
                "fixture_prep_sec": prep_sec,
                "curate_corpus_sec": plain_sec,
                "curate_corpus_html_sec": html_sec,
                "counts": counts,
                "counts_html": counts_html,
                "pairs_build_sec": pairs_build_sec,
                "leakage_audit_in_pipeline_sec": stage_sec.get("leakage_audit"),
                "leakage_audit_pairs_supplied_sec": audit_sec,
                "leakage_n_pairs": n_pairs,
                "leakage_n_cross_split": n_leaks,
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    except Exception as exc:
        return {"error": repr(exc)}


def _stage_evidence_probe(spark, sf_dir: str, extra: list[str] | None = None) -> dict:
    """Per-STAGE metrics (task count, executor run time, shuffle
    read/write bytes, input bytes) for representative shared31
    plans, via the local status REST API (VERDICT r9 item 5). Purpose:
    make environment drift distinguishable from plan drift at a glance
    — a plan regression moves shuffle bytes / task counts / stage
    structure; box noise moves only wall. One untimed warm-up pass per
    query, then one measured pass whose new stages are recorded.

    ``extra`` (VERDICT r12 item 1): queries whose warm median moved
    >1.5x vs the previous round's committed record are auto-appended by
    main(), so every large round-over-round swing carries stage rows —
    identity of shuffle bytes / task counts against the prior record
    proves box noise; a delta localizes the plan drift."""
    import urllib.request

    probes = ["q1_pricing_summary", "q3_shipping_priority",
              "top_customers_by_revenue",
              # VERDICT r10 item 8: the five expensive warm queries,
              # so perf deltas on the actually-slow plans are
              # shuffle-byte-attributable next round
              "image_neardup", "split_leakage_check", "minhash_near_dup",
              "dedup_incremental_bloom", "quality_percentile_cut",
              # VERDICT r11 item 7: the three TPC-H shapes that moved
              # 20-32% r10→r11 with no code change — carry their
              # shuffle-byte identity so box noise vs plan drift is
              # decidable from the artifact alone
              "price_quantiles_by_brand", "part_small_qty_revenue",
              "region_priority_pivot"]
    auto = [q for q in (extra or []) if q not in probes]
    probes = probes + auto
    try:
        qs = queries()
        base = (
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/stages"
        )

        def stages() -> list[dict]:
            with urllib.request.urlopen(base, timeout=10) as r:
                return json.load(r)

        # NOTE: the auto-probed list is reported as the sibling payload
        # key "stage_evidence_auto" (r13 ADVICE: a metadata key inside
        # the per-query map forced consumers to special-case it)
        out: dict = {}
        for name in probes:
            try:
                fn = qs[name]
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                seen = {s["stageId"] for s in stages()}
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 3)
                new = [s for s in stages()
                       if s["stageId"] not in seen and s["status"] == "COMPLETE"]
                out[name] = {
                    "wall_sec": wall,
                    "n_stages": len(new),
                    "total_tasks": sum(s["numTasks"] for s in new),
                    "executor_run_time_ms": sum(
                        s["executorRunTime"] for s in new),
                    "shuffle_read_bytes": sum(
                        s["shuffleReadBytes"] for s in new),
                    "shuffle_write_bytes": sum(
                        s["shuffleWriteBytes"] for s in new),
                    "input_bytes": sum(s["inputBytes"] for s in new),
                    "stages": [
                        {
                            "id": s["stageId"],
                            "tasks": s["numTasks"],
                            "run_ms": s["executorRunTime"],
                            "shuf_r": s["shuffleReadBytes"],
                            "shuf_w": s["shuffleWriteBytes"],
                            "input": s["inputBytes"],
                        }
                        for s in sorted(new, key=lambda s: s["stageId"])
                    ],
                }
            except Exception as exc:  # keep the artifact alive per query
                out[name] = {"error": repr(exc)}
            spark.catalog.clearCache()
        return out
    except Exception as exc:
        return {"error": repr(exc)}


def _scaling_tier_probe(spark, sf_dir: str, reps: int = 16,
                        timed_reps: int = 2,
                        only: list[str] | None = None) -> dict:
    """Compute-dominated scaling tier (VERDICT r13 item 3): the gate
    corpora give 0.2-2.5 s walls at sf0.1, where fixed job-launch and
    Python-worker overhead dominates and an 8-vs-32-core ratio says
    nothing about parallelism. This probe inflates the corpus (reps
    deterministic variants per doc/vector) until the heavy operator
    families run SECONDS of genuine compute, then times them at the
    session's core count ($SPARK_GRAFT_CPUS) — run it once at 8 and
    once at 32 cores (tools/scaling_tier.py) and compare warm minima.

    Inflation is engineered so candidate sets stay ~linear: every
    space in a doc becomes a marker token unique to that OUTPUT row
    (" mID "), so no two inflated docs share token n-grams and
    byte-shingle Jaccard between rep-copies falls well under the
    verify thresholds (a shared or rep-level marker was measured to
    CORRELATE MinHash minima across a rep's docs — giant LSH buckets,
    quadratic screen); embeddings are multiplied by a rep-specific
    deterministic ±1 sign pattern, which preserves every within-rep
    pairwise cosine EXACTLY (the base corpus has no near-dups) and
    randomizes cross-rep cosines to ~0. Outputs are therefore ~empty
    by design — the probe times the dominant signature / banding /
    shuffle / decode machinery, not result materialization. Map-only
    families (bpe/image/substr) run on a larger inflation (map_reps =
    4× reps) so their walls clear the fixed overhead too.

    Env-gated (SPARK_GRAFT_SCALE_TIER=1): costs minutes per core
    count, and the driver re-runs the bench at several core counts.
    The measured rows for this round are committed in
    OPTIMIZATION_r14.md."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators import bpe as B
    from secure_agent_api_vector_search_spark.operators import dedup as D
    from secure_agent_api_vector_search_spark.operators import multimodal as M
    from secure_agent_api_vector_search_spark.operators import substr as SB
    from secure_agent_api_vector_search_spark.operators.curation import (
        split_leakage_check,
    )

    out: dict = {"cpus": _bench_cpus(), "reps": reps, "timed_reps": timed_reps}
    root = tempfile.mkdtemp(prefix="bench_scale_tier_")
    try:
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )

        _built: dict = {}

        def inflate_docs(k: int):
            if k in _built:
                return _built[k]
            path = f"{root}/docs{k}"
            rep = spark.range(k).select(F.col("id").alias("rep"))
            new_id = F.col("doc_id") * k + F.col("rep")
            # marker unique PER OUTPUT ROW — see docstring
            marker = F.concat(F.lit(" m"), new_id.cast("string"), F.lit(" "))
            big = base.crossJoin(rep).select(
                new_id.alias("doc_id"),
                F.replace(F.col("text"), F.lit(" "), marker).alias("text"),
            )
            big.repartition(64).write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
            out[f"n_docs_x{k}"] = df.count()
            _built[k] = df
            return df

        def inflate_emb(k: int):
            if ("emb", k) in _built:
                return _built[("emb", k)]
            emb_base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            rep = spark.range(k).select(F.col("id").alias("rep"))
            # deterministic ±1 sign per (rep, dimension): norm-preserving,
            # within-rep geometry untouched, cross-rep cosines ~0
            signed = F.transform(
                F.col("embedding"),
                lambda x, i: x * (F.pmod(F.xxhash64(F.col("rep"), i), F.lit(2))
                                  .cast("double") * 2.0 - 1.0),
            )
            big = emb_base.crossJoin(rep).select(
                (F.col("vec_id") * k + F.col("rep")).alias("vec_id"),
                signed.alias("embedding"),
            )
            big.repartition(64).write.mode("overwrite").parquet(f"{root}/emb{k}")
            df = spark.read.parquet(f"{root}/emb{k}")
            out[f"n_vecs_x{k}"] = df.count()
            _built[("emb", k)] = df
            return df

        def _merges():
            # fixed table, built once on the UNTIMED warm pass — the
            # probe times tokenization, not training
            if "merges" not in _built:
                _built["merges"] = B.train_bpe(base, n_merges=24)
            return _built["merges"]

        map_reps = reps * 4
        # corpora build lazily so a family-filtered run (``only``) pays
        # only for what it times — fresh-session single-family runs are
        # the clean protocol on this box (session aging inflates
        # python-heavy walls late in a multi-family session)
        families = {
            "minhash_banding": lambda: D.minhash_near_dup_pairs(
                inflate_docs(reps), threshold=0.5),
            "split_leakage_check": lambda: split_leakage_check(
                inflate_docs(reps), threshold=0.6),
            "embedding_neardup_clustered": lambda:
                D.embedding_neardup_pairs_clustered(
                    inflate_emb(reps * 4), threshold=0.85, dim=64),
            "exact_substr_spans": lambda: SB.duplicated_spans(
                inflate_docs(map_reps), k=16),
            "bpe_tokenize": lambda: B.bpe_tokenize(
                inflate_docs(map_reps * 4), _merges()),
            "image_decode": lambda: M.image_features(
                M.synthetic_jpeg_payloads(inflate_docs(map_reps))),
        }
        for name, fn in families.items():
            if only and name not in only:
                continue
            try:
                spark.sparkContext.setJobDescription(f"scale-tier: {name}")
                walls = []
                for i in range(1 + timed_reps):  # first pass untimed warm
                    t0 = time.perf_counter()
                    fn().write.format("noop").mode("overwrite").save()
                    if i:
                        walls.append(round(time.perf_counter() - t0, 3))
                out[name] = {"warm_walls": walls, "warm_min": min(walls)}
            except Exception as exc:  # keep the artifact alive per family
                out[name] = {"error": repr(exc)}
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        return out
    except Exception as exc:
        out["error"] = repr(exc)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _codec_throughput_probe() -> dict:
    """Decode throughput on realistic payload sizes — the regression
    guard for the defect class round-8 ADVICE caught (a quadratic bit
    reader that was invisible on tiny gate fixtures but would hang on
    a multi-MB photo). Driver-side pure Python on one core; decode
    MB/s is the per-task number an executor core would see."""
    import numpy as np

    from secure_agent_api_vector_search_spark.operators import gif as G
    from secure_agent_api_vector_search_spark.operators import jpeg as J
    from secure_agent_api_vector_search_spark.operators import multimodal as M

    out: dict[str, dict] = {}
    rng = np.random.default_rng(42)
    # photo-like raster: smooth gradient + noise = dense entropy data
    yy, xx = np.mgrid[0:512, 0:512]
    base = (yy // 4 + xx // 4) % 256
    img = np.clip(
        base[:, :, None] + rng.normal(0, 20, (512, 512, 3)), 0, 255
    ).astype(np.uint8)
    try:
        # the executor-core JPEG shape: mapInPandas hands each task a
        # BATCH of payloads, and decode_jpeg_batch fuses their restart
        # segments into one vectorized lane-engine pass (jpeg.py::
        # _lane_engine — throughput is L/(a+b·L) in the lane count, so
        # the batch, not the single image, is the per-core number).
        # Encoded with one restart segment per MCU row, the layout real
        # camera/libjpeg DRI emission produces.
        # 64 payloads (4 distinct scenes x 16) = 4096 lanes: enough to
        # amortize per-step dispatch; a real task's Arrow batch is
        # larger still
        distinct = [
            np.clip(base[:, :, None] + rng.normal(0, 20, (512, 512, 3)),
                    0, 255).astype(np.uint8)
            for _ in range(4)
        ]
        batch = [J.encode_jpeg(im, quality=85, restart_interval=64)
                 for im in distinct] * 16
        # steady state: an executor core decodes batch after batch, so
        # the second pass (allocator + page tables warm) is the
        # representative per-core number; the first is recorded too
        t0 = time.perf_counter()
        J.decode_jpeg_batch(batch)
        dt_cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        J.decode_jpeg_batch(batch)
        dt = time.perf_counter() - t0
        out["jpeg_batch"] = {
            "n_images": len(batch),
            "payload_kb": round(sum(len(p) for p in batch) / 1024, 1),
            "first_pass_sec": round(dt_cold, 3),
            "decode_sec": round(dt, 3),
            "decode_mb_per_sec": round(
                sum(len(p) for p in batch) / dt / 1e6, 2),
            "megapixels_per_sec": round(
                len(batch) * 512 * 512 / dt / 1e6, 2),
        }
        for name, enc, dec in (
            ("jpeg", lambda x: J.encode_jpeg(x, quality=85), J.decode_jpeg),
            ("png", M.encode_png, M.decode_png),
        ):
            payload = enc(img)
            t0 = time.perf_counter()
            dec(payload)
            dt = time.perf_counter() - t0
            out[name] = {
                "payload_kb": round(len(payload) / 1024, 1),
                "decode_sec": round(dt, 3),
                "decode_mb_per_sec": round(len(payload) / dt / 1e6, 2),
                "megapixels_per_sec": round(512 * 512 / dt / 1e6, 2),
            }
        # GIF needs <=256 colors: posterize the same raster
        gimg = (img // 32 * 32).astype(np.uint8)
        gimg = gimg[:, :, :1]  # grayscale keeps the palette small
        payload = G.encode_gif(gimg)
        t0 = time.perf_counter()
        G.decode_gif(payload)
        dt = time.perf_counter() - t0
        out["gif"] = {
            "payload_kb": round(len(payload) / 1024, 1),
            "decode_sec": round(dt, 3),
            "decode_mb_per_sec": round(len(payload) / dt / 1e6, 2),
            "megapixels_per_sec": round(512 * 512 / dt / 1e6, 2),
        }
        from secure_agent_api_vector_search_spark.operators import webp as WP

        payload = WP.encode_webp_lossless(img, subtract_green=True)
        t0 = time.perf_counter()
        WP.decode_webp(payload)
        dt = time.perf_counter() - t0
        out["webp_lossless"] = {
            "payload_kb": round(len(payload) / 1024, 1),
            "decode_sec": round(dt, 3),
            "decode_mb_per_sec": round(len(payload) / dt / 1e6, 2),
            "megapixels_per_sec": round(512 * 512 / dt / 1e6, 2),
        }
        # the executor-core WebP shape (mirrors jpeg_batch): an Arrow
        # batch of images decodes through webp.decode_webp_batch, one
        # LANE per VP8L image in a single vectorized pixel pass —
        # throughput is L/(a+b·L) in the lane count, so the batch, not
        # the single image, is the per-core number. Same 64-payload
        # (4 distinct scenes x 16) composition as the JPEG probe.
        wbatch = [WP.encode_webp_lossless(im, subtract_green=True)
                  for im in distinct] * 16
        t0 = time.perf_counter()
        WP.decode_webp_batch(wbatch)
        w_cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        WP.decode_webp_batch(wbatch)
        dt = time.perf_counter() - t0
        out["webp_lossless_batch"] = {
            "n_images": len(wbatch),
            "payload_kb": round(sum(len(p) for p in wbatch) / 1024, 1),
            "first_pass_sec": round(w_cold, 3),
            "decode_sec": round(dt, 3),
            "decode_mb_per_sec": round(
                sum(len(p) for p in wbatch) / dt / 1e6, 2),
            "megapixels_per_sec": round(
                len(wbatch) * 512 * 512 / dt / 1e6, 2),
        }
    except Exception as exc:  # diagnostics never fail the bench
        out["error"] = repr(exc)
    return out


def _bench_cpus() -> int:
    """Core count this bench runs at ($SPARK_GRAFT_CPUS, 0 = all local
    cores) — recorded in the payload and used to gate the mover
    comparison to same-cpus records."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if n:
        return n
    import multiprocessing

    return multiprocessing.cpu_count()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.0
    # previous round's committed record, read BEFORE this run overwrites
    # it: any query whose warm median moves >1.5x against it gets
    # auto-appended to the stage-evidence probe set (VERDICT r12 item 1)
    prev_medians: dict[str, float] = {}
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )) as f:
            prev = json.load(f)
        # only comparable at the SAME scale factor AND core count — the
        # round driver re-runs the bench at several core counts and the
        # last run overwrites BENCH_FULL.json (r13's committed record
        # was the driver's c8 run), so a cross-cpus record would mark
        # overhead-dominated queries "movers" spuriously
        if prev.get("sf") == sf and prev.get("cpus") in (None, _bench_cpus()):
            prev_medians = prev.get("queries_warm_median", {}) or {}
    except (OSError, ValueError):
        pass
    spark = get_session("bench")

    qs = queries()
    # warm up the JVM/scan path once (excluded from timings)
    qs["point_lookup"](spark, sf_dir).collect()
    # warm the Arrow / Python-worker path too: the first pandas-UDF
    # stage of a session pays worker fork + numpy import on every core
    # (~10-20 s on local[32]) — steady-state cost on a long-lived
    # cluster, so it is excluded from per-query timings.
    from pyspark.sql import functions as F  # local import: bench-only

    _warm = F.pandas_udf("long")(lambda s: s)
    spark.range(256).repartition(32).select(_warm("id").alias("v")).count()

    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}          # min over warm reps
    warm_median: dict[str, float] = {}
    warm_reps: dict[str, list[float]] = {}
    rows_out: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        reps: list[float] = []
        try:
            for rep in range(1 + n_reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
                if rep == 0:
                    cold[name] = dt
                else:
                    reps.append(dt)
            # untimed semantic-evidence pass: result cardinality. A
            # cross-round timing delta with an unchanged rows_out is
            # noise or a physical-plan change; a changed rows_out means
            # the query's semantics/inputs moved.
            rows_out[name] = fn(spark, sf_dir).count()
        except Exception:
            errors[name] = traceback.format_exc(limit=3)
            print(f"bench: {name} FAILED", file=sys.stderr)
            traceback.print_exc(limit=3, file=sys.stderr)
        if reps:
            s = sorted(reps)
            warm[name] = s[0]
            warm_median[name] = s[len(s) // 2]
            warm_reps[name] = reps
        # drop intermediates persisted inside operators (minhash caches
        # its signature table) AFTER all reps: queries stay isolated
        # from each other, while the warm reps keep intra-query state —
        # the steady-state number a long-lived session would see for a
        # repeated query. Cold = first-execution cost including persists.
        spark.catalog.clearCache()

    total = round(sum(cold.values()), 3)
    # The diagnostic probes run on a FRESH SparkContext: after ~70
    # queries × 5 executions the old context's heap/shuffle residue
    # inflates them non-deterministically (measured: dim768 exact 3.8 s
    # end-of-loop vs 0.7 s fresh; crossover k-means build 129 s vs
    # 23 s). Restarting costs ~2 s and makes the cross-round diagnostic
    # numbers mean the same thing every round. The per-query loop above
    # keeps the long-lived session on purpose — ITS cross-round
    # comparability depends on the accumulated-state regime staying
    # identical to rounds 1-6.
    # movers vs the previous committed record, for the stage-evidence
    # auto-probe. A current median that rounds to 0.0 against a real
    # previous one IS a >1.5x move (r13 ADVICE: the old ratio raised
    # ZeroDivisionError and aborted the whole bench run).
    _movers = sorted(
        n for n, v in warm_median.items()
        if prev_medians.get(n, 0) > 0
        and (v <= 0 or max(v / prev_medians[n], prev_medians[n] / v) > 1.5)
    )
    spark.stop()
    os.environ["SPARK_GRAFT_UI"] = "1"  # stage_evidence reads the REST API
    spark = get_session("bench-probes")
    _warm2 = F.pandas_udf("long")(lambda s: s)
    spark.range(256).repartition(32).select(_warm2("id").alias("v")).count()
    # Key order is deliberate: the bulky raw-evidence dicts (warm_reps,
    # rows_out, cold timings) come FIRST and the per-query warm minima
    # LAST, so a tail-truncated capture of this line still carries the
    # numbers cross-round comparisons actually use (queries_warm +
    # shared31_warm + the totals).
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "bench_reps": n_reps,
        "sf": sf,
        "cpus": _bench_cpus(),
        "warm_reps": warm_reps,
        "rows_out": rows_out,
        "queries": cold,
        "queries_warm_median": warm_median,
        "errors": errors,
        "lsh_diagnostics": _lsh_diagnostics(spark, sf_dir),
        "dim768": _dim768_probe(spark, sf_dir),
        "recall": _recall_probe(spark, sf_dir),
        "ann_crossover": _ann_crossover_probe(spark, sf_dir),
        # the 1M x 768 tier (VERDICT r12 item 3): ~6-10 min of embed +
        # k-means build, so it does not run on every bench invocation
        # (the driver re-runs the bench at several core counts) —
        # enable explicitly; the round's measured row is committed in
        # OPTIMIZATION_r13.md / BENCH_FULL.json
        "ann_crossover_1m": (
            _ann_crossover_probe(spark, sf_dir, reps=192, n_lists=256, nprobe=16)
            if os.environ.get("SPARK_GRAFT_ANN_1M") == "1"
            else {"skipped": "set SPARK_GRAFT_ANN_1M=1 (~6-10 min probe)"}
        ),
        # compute-dominated scaling tier (VERDICT r13 item 3): run at
        # two core counts via tools/scaling_tier.py and compare warm
        # minima; env-gated because it costs minutes per core count
        "scaling_tier": (
            _scaling_tier_probe(spark, sf_dir)
            if os.environ.get("SPARK_GRAFT_SCALE_TIER") == "1"
            else {"skipped": "set SPARK_GRAFT_SCALE_TIER=1 (~minutes/core count)"}
        ),
        "pipeline_e2e": _pipeline_probe(spark, sf_dir),
        "stage_evidence": _stage_evidence_probe(spark, sf_dir, extra=_movers),
        # sibling to stage_evidence so the per-query map stays pure
        # (r13 ADVICE: no metadata keys in the query namespace)
        "stage_evidence_auto": _movers,
        "codec_throughput": _codec_throughput_probe(),
        "warm_total": round(sum(warm.values()), 3),
        "warm_median_total": round(sum(warm_median.values()), 3),
        "shared31_total": round(sum(cold.get(q, 0.0) for q in SHARED31), 3),
        "shared31_warm_total": round(sum(warm.get(q, 0.0) for q in SHARED31), 3),
        "shared31_warm_median_total": round(
            sum(warm_median.get(q, 0.0) for q in SHARED31), 3
        ),
        "queries_warm": warm,
        "shared31_warm": {q: warm[q] for q in SHARED31 if q in warm},
    }
    # The driver records only the LAST 2000 chars of this line
    # (BENCH_r11.json: tail-only, parsed=null) — the probe evidence
    # (stage_evidence, codec_throughput, recall, crossover) sits
    # mid-line and never survives into the round artifact. Persist the
    # full payload next to the script so cross-round stage/shuffle-byte
    # comparisons read a complete, parseable record.
    try:
        full = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
        with open(full, "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line still carries the data
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
