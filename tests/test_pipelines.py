"""Batch E3 pipeline jobs: embedding backfill (S6 analog) and index
build/probe round-trip through disk."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark import pipelines as P
from secure_agent_api_vector_search_spark.embedder import embed_text
from secure_agent_api_vector_search_spark.operators import ivf as I
from secure_agent_api_vector_search_spark.operators import topk as TK


def test_backfill_job_roundtrip(spark, docs, tmp_path):
    in_path, out_path = str(tmp_path / "raw"), str(tmp_path / "embedded")
    docs.limit(30).write.parquet(in_path)
    n = P.run_backfill_job(spark, in_path, out_path, dim=16)
    assert n == 30
    out = spark.read.parquet(out_path)
    assert "embedding" in out.columns
    row = out.orderBy("doc_id").head()
    assert list(row["embedding"]) == pytest.approx(embed_text(row["text"], 16))


def test_backfill_only_fills_nulls(spark):
    """Rows that already carry an embedding are left untouched — the
    incremental re-run semantics (reference seeds NULL then backfills,
    sql/03_seed_data.sql:2 + 04_embeddings.sql:5-6)."""
    df = spark.createDataFrame(
        [(1, "some text", [9.0, 9.0]), (2, "other text", None)],
        "doc_id long, text string, embedding array<double>",
    )
    out = {r["doc_id"]: list(r["embedding"]) for r in P.backfill_embeddings(df, dim=2).collect()}
    assert out[1] == [9.0, 9.0]                      # preserved
    assert out[2] == pytest.approx(embed_text("other text", 2))  # filled


def test_index_build_job_and_disk_probe(spark, emb, tmp_path):
    corpus, index_path = str(tmp_path / "corpus"), str(tmp_path / "index")
    emb.write.parquet(corpus)
    n_lists = P.build_and_write_index(spark, corpus, index_path, n_lists=8)
    assert n_lists == 8
    loaded = I.read_ivf(spark, index_path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    got = {r["vec_id"] for r in I.ivf_search(loaded, q, k=5, nprobe=8).collect()}
    want = {r["vec_id"] for r in TK.topk_similar(emb, q, k=5).collect()}
    assert got == want  # full probe ≡ exact


def _bucket_files(path):
    """{partition dir name: sorted (file, mtime_ns) list} for a merge table."""
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("_kb="):
            full = os.path.join(path, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(full, f)).st_mtime_ns)
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
    return out


def test_merge_upsert_updates_inserts_and_prunes(spark, tmp_path):
    """The S6-at-scale path: a keyed MERGE rewrites ONLY partitions
    containing updated keys — untouched bucket files are bit-for-bit
    the same files afterward (same names, same mtimes)."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"text {i}", float(i)) for i in range(100)],
        "doc_id long, text string, score double",
    )
    P.write_merge_table(base, path, "doc_id", n_buckets=8)
    before = _bucket_files(path)
    assert len(before) == 8

    updates = spark.createDataFrame(
        [(3, "patched 3", -3.0), (900, "new 900", -900.0)],
        "doc_id long, text string, score double",
    )
    touched = P.merge_upsert(spark, path, updates, "doc_id", n_buckets=8)
    upd_buckets = {
        r[0] for r in updates.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")).collect()
    }
    assert touched == len(upd_buckets)

    out = spark.read.parquet(path)
    rows = {r["doc_id"]: (r["text"], r["score"]) for r in out.collect()}
    assert len(rows) == 101                      # 100 base + 1 insert
    assert rows[3] == ("patched 3", -3.0)        # updated in place
    assert rows[900] == ("new 900", -900.0)      # inserted
    assert rows[4] == ("text 4", 4.0)            # untouched value

    after = _bucket_files(path)
    for d in before:
        bucket_id = int(d.split("=")[1])
        if bucket_id not in upd_buckets:
            assert after[d] == before[d], f"untouched partition {d} was rewritten"


def test_merge_upsert_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string")
    P.write_merge_table(base, path, "k", n_buckets=4)
    upd = spark.createDataFrame([(5, "patched")], "k long, v string")
    P.merge_upsert(spark, path, upd, "k", n_buckets=4)
    P.merge_upsert(spark, path, upd, "k", n_buckets=4)  # replay
    out = spark.read.parquet(path)
    assert out.count() == 20
    assert out.filter("k = 5").head()["v"] == "patched"


def test_merge_upsert_rejects_schema_drift(spark, tmp_path):
    path = str(tmp_path / "t")
    P.write_merge_table(
        spark.createDataFrame([(1, "a")], "k long, v string"), path, "k", n_buckets=2)
    bad = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="schema"):
        P.merge_upsert(spark, path, bad, "k", n_buckets=2)


def test_merge_backfill_embeds_only_null_rows(spark, tmp_path):
    """Incremental UPDATE-WHERE-NULL: embedded rows keep their exact
    vectors; null rows get embedded; second run is a no-op."""
    path = str(tmp_path / "corpus")
    marker = [42.0] * 16  # sentinel: provably not recomputed
    rows = [(i, f"document number {i}", marker if i % 3 else None) for i in range(30)]
    base = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>")
    P.write_merge_table(base, path, "doc_id", n_buckets=4)

    touched = P.run_merge_backfill_job(spark, path, dim=16, n_buckets=4)
    assert touched > 0
    out = {r["doc_id"]: r["embedding"] for r in spark.read.parquet(path).collect()}
    assert len(out) == 30
    for i in range(30):
        if i % 3:
            assert list(out[i]) == marker                      # untouched
        else:
            assert list(out[i]) == pytest.approx(
                embed_text(f"document number {i}", 16))        # backfilled

    assert P.run_merge_backfill_job(spark, path, dim=16, n_buckets=4) == 0


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Same-bucketed tables equi-join with no Exchange and no Sort on
    either side — the shuffle paid once at write time (the 100 TB
    co-located fact-fact join layout)."""
    orders = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("o_val"))
    lines = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") + 7).alias("l_val"))
    P.write_bucketed(orders, str(tmp_path / "bo"), "b_orders", ["k"], n_buckets=8)
    P.write_bucketed(lines, str(tmp_path / "bl"), "b_lines", ["k"], n_buckets=8)
    try:
        bo, bl = P.bucketed_tables(spark, "b_orders", "b_lines")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bo.join(bl, "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert joined.count() == 3000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lines")


def test_events_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Date-partitioned event layout: a date-ranged read plans
    partition filters and scans only the matching directories."""
    from secure_agent_api_vector_search_spark.pipelines import (
        write_events_partitioned,
    )
    from secure_agent_api_vector_search_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_date")
    write_events_partitioned(events, out)
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    one_day = back.filter(F.col("event_date") == F.lit("2024-01-02").cast("date"))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # the pruned scan reads a strict subset of the partition dirs
    import os

    n_dirs = len([d for d in os.listdir(out) if d.startswith("event_date=")])
    assert n_dirs > 1
    day_rows = one_day.count()
    total = back.count()
    if day_rows:
        assert day_rows < total


def test_curate_corpus_end_to_end(spark, docs, tmp_path):
    """The full raw-dump → training-shards pipeline: stage counts are
    consistent, every dropped row lands in a queryable reject path, and
    the train split materializes as ordered epoch shards."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 120).collect()
    ]
    # plant: a normalized dup, a verbatim dup, and an undecodable line
    dup_src = next(s for s in sample if s["doc_id"] == 30)
    sample.append({**dup_src, "doc_id": 700000,
                   "text": dup_src["text"].upper() + " !!!"})
    sample.append({**dup_src, "doc_id": 700001})
    lines = [_json.dumps(s) for s in sample] + ['{"doc_id": 99, "text": "bro']
    raw.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "curated")
    counts = curate_corpus(spark, str(raw), out, n_shards=4, min_quality=0.25)

    assert counts == {
        "ingested": 122, "quarantined": 1, "after_quality": 78, "after_dedup": 75,
        "eval_reserved": 13, "after_decontamination": 62,
        "split_train": 53, "split_val": 2, "split_test": 7,
    }
    assert counts["ingested"] == len(sample)
    assert counts["quarantined"] == 1
    assert counts["after_quality"] <= counts["ingested"]
    assert counts["after_dedup"] <= counts["after_quality"]
    # both planted dups of doc 30 collapsed (keep-min-id keeps 30)
    assert counts["after_dedup"] <= counts["after_quality"] - 2
    assert counts["after_decontamination"] <= counts["after_dedup"]
    n_splits = sum(counts[f"split_{s}"] for s in ("train", "val", "test"))
    assert n_splits == counts["after_decontamination"]
    # full closure: dedup survivors = eval slice + contaminated + clean
    dropped_c = spark.read.parquet(f"{out}/rejects/contamination").count()
    assert (counts["eval_reserved"] + dropped_c + counts["after_decontamination"]
            == counts["after_dedup"])
    assert spark.read.parquet(f"{out}/eval_reserved").count() == counts["eval_reserved"]

    # audit trail: rejects exist and stage arithmetic closes
    dropped_q = spark.read.parquet(f"{out}/rejects/quality").count()
    assert dropped_q == counts["ingested"] - counts["after_quality"]
    dropped_d = spark.read.parquet(f"{out}/rejects/dedup").count()
    assert dropped_d == counts["after_quality"] - counts["after_dedup"]

    # train shards: ordered layout, planted dup ids absent everywhere
    shards = [d for d in os.listdir(f"{out}/train_shards") if d.startswith("shard=")]
    assert len(shards) == 4
    train = spark.read.parquet(f"{out}/train_shards")
    assert train.count() == counts["split_train"]
    all_kept = set()
    for part in ("train_shards", "val", "test"):
        all_kept |= {r["doc_id"] for r in
                     spark.read.parquet(f"{out}/{part}").select("doc_id").collect()}
    assert 700000 not in all_kept and 700001 not in all_kept


def test_curate_corpus_span_strip_and_lm_filter_stages(spark, docs, tmp_path):
    """The optional round-6 stages: span-level ExactSubstr strip
    (shared boilerplate runs removed while the docs survive doc-level
    dedup) and the CCNet LM tail cut — stage arithmetic closes, every
    drop lands in a reject path, and the boilerplate run is gone from
    the surviving corpus."""
    import json as _json

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 100).collect()
    ]
    # plant shared BOILERPLATE: a 8-token footer appended to three docs
    # whose bodies differ -> doc-level near-dup keeps all three, the
    # span strip must remove the footer from the two non-keeper docs
    footer = " subscribe to our newsletter terms of service apply"
    planted = []
    for s in sample:
        if s["doc_id"] in (40, 41, 42):
            s["text"] = s["text"] + footer
            planted.append(s["doc_id"])
    lines = [_json.dumps(s) for s in sample]
    raw.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "curated2")
    counts = curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.25,
        strip_spans_k=5, lm_tail_filter=True,
    )
    assert counts == {
        "ingested": 100, "quarantined": 0, "after_quality": 63, "after_dedup": 62,
        "span_emptied": 0, "span_stripped_docs": 1, "after_span_strip": 62,
        "eval_reserved": 13, "after_decontamination": 49, "after_lm_filter": 32,
        "split_train": 26, "split_val": 1, "split_test": 5,
    }

    # arithmetic closure of the new stages
    assert (counts["after_span_strip"] + counts["span_emptied"]
            == counts["after_dedup"])
    # at least one non-keeper footer stripped (doc-level dedup may
    # have already dropped one of the three planted docs — the sf
    # corpus has its own planted near-dups in this id range; the
    # at-most-one-copy assertion below is the semantic guarantee)
    assert counts["span_stripped_docs"] >= 1
    dropped_lm = spark.read.parquet(f"{out}/rejects/lm_tail").count()
    assert counts["after_lm_filter"] + dropped_lm == counts["after_decontamination"]
    n_splits = sum(counts[f"split_{s}"] for s in ("train", "val", "test"))
    assert n_splits == counts["after_lm_filter"]

    # the footer run survives in at most ONE surviving document
    surviving = []
    for name in ("train_shards", "val", "test"):
        try:
            surviving.append(spark.read.parquet(f"{out}/{name}"))
        except Exception:  # noqa: BLE001 - a split may be empty
            pass
    import functools

    allv = functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), surviving)
    with_footer = allv.filter(F.col("text").contains("subscribe to our newsletter")).count()
    eval_side = spark.read.parquet(f"{out}/eval_reserved").filter(
        F.col("text").contains("subscribe to our newsletter")
    ).count()
    assert with_footer + eval_side <= 1


def test_curate_corpus_span_strip_preserves_untouched_n_chars(spark, docs, tmp_path):
    """n_chars is a raw ingest-supplied field, not derived from text:
    a document the span strip does NOT change must pass through with
    its original n_chars (even one that disagrees with length(text) —
    upstream counting conventions differ), while a stripped document
    gets n_chars recounted from the new text."""
    import json as _json

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 100).collect()
    ]
    footer = " subscribe to our newsletter terms of service apply"
    marked = None
    for s in sample:
        if s["doc_id"] in (40, 41, 42):
            s["text"] = s["text"] + footer
        elif marked is None and len(s["text"]) > 60:
            # an untouched doc whose n_chars deliberately disagrees
            # with length(text) by an upstream-convention offset
            s["n_chars"] = len(s["text"]) + 7
            marked = s["doc_id"]
    assert marked is not None
    raw.write_text("\n".join(_json.dumps(s) for s in sample) + "\n")

    out = str(tmp_path / "curated3")
    counts = curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.0,
        strip_spans_k=5,
    )
    assert counts == {
        "ingested": 100, "quarantined": 0, "after_quality": 100, "after_dedup": 97,
        "span_emptied": 0, "span_stripped_docs": 2, "after_span_strip": 97,
        "eval_reserved": 19, "after_decontamination": 78,
        "split_train": 68, "split_val": 3, "split_test": 7,
    }
    surviving = []
    for name in ("train_shards", "val", "test", "eval_reserved"):
        try:
            surviving.append(spark.read.parquet(f"{out}/{name}"))
        except Exception:  # noqa: BLE001 - a split may be empty
            pass
    import functools

    allv = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), surviving
    )
    row = allv.filter(F.col("doc_id") == marked).collect()
    if row:  # the doc survived curation: its raw n_chars must too
        assert row[0]["n_chars"] == len(row[0]["text"]) + 7
    # and every stripped-doc row must carry a recounted n_chars
    changed = allv.filter(
        F.col("doc_id").isin(40, 41, 42)
        & ~F.col("text").contains("subscribe to our newsletter")
    ).collect()
    for r in changed:
        assert r["n_chars"] == len(r["text"])


def test_curate_corpus_html_input_stage(spark, docs, tmp_path):
    """Optional WET front stage: HTML-wrapped docs are extracted (and
    survive curation with markup gone), nav pages over the
    link-density cap land in the rejects path, plain docs keep their
    ingest-supplied n_chars, and the stage arithmetic closes."""
    import json as _json

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw_html.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 80).collect()
    ]
    nav = "<ul>" + "".join(
        f"<li><a href='/{i}'>menu item number {i} with words</a></li>"
        for i in range(30)
    ) + "</ul><p>tiny</p>"
    for s in sample:
        if s["doc_id"] == 11:
            s["text"] = f"<body><h2>Heading</h2><p>{s['text']}</p></body>"
        elif s["doc_id"] == 12:
            s["text"] = nav  # boilerplate page: must be dropped
    raw.write_text("\n".join(_json.dumps(s) for s in sample) + "\n")

    out = str(tmp_path / "curated_html")
    counts = curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.0, min_tokens=3,
        html_input=True,
    )
    assert counts == {
        "ingested": 80, "quarantined": 0, "after_html_extract": 79,
        "link_density_dropped": 1, "after_quality": 79, "after_dedup": 78,
        "eval_reserved": 19, "after_decontamination": 59,
        "split_train": 52, "split_val": 2, "split_test": 5,
    }
    assert (counts["after_html_extract"] + counts["link_density_dropped"]
            == counts["ingested"])
    assert counts["link_density_dropped"] >= 1
    rejects = spark.read.parquet(f"{out}/rejects/link_density")
    assert rejects.filter(F.col("doc_id") == 12).count() == 1

    surviving = []
    for name in ("train_shards", "val", "test", "eval_reserved"):
        try:
            surviving.append(spark.read.parquet(f"{out}/{name}"))
        except Exception:  # noqa: BLE001
            pass
    import functools

    allv = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), surviving
    )
    doc11 = allv.filter(F.col("doc_id") == 11).collect()
    if doc11:
        assert "<" not in doc11[0]["text"] and "Heading" in doc11[0]["text"]
        assert doc11[0]["n_chars"] == len(doc11[0]["text"])
    # a plain doc keeps its raw n_chars field untouched
    plain = allv.filter(F.col("doc_id") == 14).collect()
    orig = {s["doc_id"]: s for s in sample}
    if plain:
        assert plain[0]["n_chars"] == orig[14]["n_chars"]


def test_curate_corpus_expectations_preflight(spark, docs, tmp_path):
    """A failing expectation stops the pipeline BEFORE any expensive
    stage and leaves the per-rule report queryable; a passing rule set
    lets the run proceed and records zero failures."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw_exp.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 60).collect()
    ]
    raw.write_text("\n".join(_json.dumps(s) for s in sample) + "\n")

    out = str(tmp_path / "cur_exp")
    with _pytest.raises(ValueError, match="expectations failed"):
        curate_corpus(
            spark, str(raw), out, n_shards=4, min_quality=0.0,
            expectations=[("in_range", "n_chars", 0, 10)],  # fails
        )
    report = {r["rule"]: r["violations"]
              for r in spark.read.parquet(f"{out}/expectations").collect()}
    assert report["in_range(n_chars)"] > 0

    counts = curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.0,
        expectations=[("not_null", "doc_id"), ("unique", "doc_id")],
    )
    assert counts == {
        "ingested": 60, "quarantined": 0, "expectations_failed": 0,
        "after_quality": 60, "after_dedup": 58, "eval_reserved": 19,
        "after_decontamination": 39, "split_train": 33, "split_val": 2, "split_test": 4,
    }
    assert counts["expectations_failed"] == 0
    assert counts["ingested"] == len(sample)


def test_curate_corpus_leakage_audit_postcondition(spark, docs, tmp_path):
    """leakage_audit=True reuses the dedup stage's verified pair frame
    (the amortized pairs= shape) as the pipeline's no-leakage
    postcondition: keep_first drops one member of every near-dup pair,
    so the shipped splits must contain ZERO cross-split pairs at the
    dedup threshold — and the audit parquet must land queryable."""
    import json as _json

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    raw = tmp_path / "raw.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 120).collect()
    ]
    dup_src = next(s for s in sample if s["doc_id"] == 30)
    sample.append({**dup_src, "doc_id": 700001})  # verbatim near-dup
    raw.write_text("\n".join(_json.dumps(s) for s in sample) + "\n")

    out = str(tmp_path / "curated")
    counts = curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.25, leakage_audit=True
    )
    assert counts == {
        "ingested": 121, "quarantined": 0, "after_quality": 77, "after_dedup": 75,
        "eval_reserved": 13, "after_decontamination": 62, "leakage_pairs": 0,
        "split_train": 53, "split_val": 2, "split_test": 7,
    }
    assert counts["leakage_pairs"] == 0
    audit = spark.read.parquet(f"{out}/leakage_audit")
    assert set(audit.columns) == {"id_a", "id_b", "jaccard", "split_a", "split_b"}
    assert audit.count() == 0


def test_curate_corpus_writes_read_stage_checkpoints(spark, docs, tmp_path, monkeypatch):
    """Each curation stage is materialized once, as a checkpoint that
    cuts the lineage: no frame curate_corpus hands to a parquet writer
    or to write_epoch_shards reads a persisted (InMemoryRelation)
    frame, and each one's executed plan stays small instead of nesting
    every earlier stage's build plan."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from secure_agent_api_vector_search_spark.operators import curation
    from secure_agent_api_vector_search_spark.pipelines import curate_corpus

    handed = {}  # output path -> executed plan of the frame written there
    write_parquet, write_shards = DataFrameWriter.parquet, curation.write_epoch_shards

    def plan_at_hand_off(path, df):
        handed[path] = df._jdf.queryExecution().executedPlan().toString()

    def parquet(self, path, *args, **kwargs):
        plan_at_hand_off(path, self._df)
        return write_parquet(self, path, *args, **kwargs)

    def shards(documents, path, *args, **kwargs):
        plan_at_hand_off(path, documents)
        return write_shards(documents, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(curation, "write_epoch_shards", shards)

    raw = tmp_path / "raw.jsonl"
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    sample = [
        {k: r[k] for k in cols} for r in docs.filter(F.col("doc_id") < 100).collect()
    ]
    footer = " subscribe to our newsletter terms of service apply"
    for s in sample:
        if s["doc_id"] in (40, 41, 42):
            s["text"] = s["text"] + footer
    raw.write_text("\n".join(_json.dumps(s) for s in sample) + "\n")
    out = str(tmp_path / "curated")
    curate_corpus(
        spark, str(raw), out, n_shards=4, min_quality=0.25, strip_spans_k=5,
        leakage_audit=True,
    )

    assert {f"{out}/{name}" for name in (
        "rejects/parse", "rejects/quality", "rejects/dedup", "rejects/span_empty",
        "eval_reserved", "rejects/contamination", "leakage_audit", "train_shards",
        "val", "test",
    )} <= set(handed)
    for path, plan in handed.items():
        assert "InMemoryRelation" not in plan, path
        assert len(plan.splitlines()) < 200, (path, len(plan.splitlines()))
