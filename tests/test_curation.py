"""Curation-operator invariants: per-source caps, PII redaction,
deterministic splits, contamination scan."""

import pytest
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.operators import curation as CU


def test_per_source_cap_bounds_and_prefers_long(docs):
    out = CU.per_source_cap(docs, cap=5)
    per = out.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per)
    # kept docs per source are the longest ones
    src = per[0]["source"]
    kept = {r["doc_id"] for r in out.filter(F.col("source") == src).collect()}
    top = {
        r["doc_id"]
        for r in docs.filter(F.col("source") == src)
        .orderBy(F.desc("n_chars"), "doc_id").limit(5).collect()
    }
    assert kept == top


def test_pii_redact_counts_and_scrubs(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@x.io and jo@y.org call 555-123-4567 host 10.0.0.1"),
         (2, "clean text only")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in CU.pii_redact(df).collect()}
    r1 = rows[1]
    assert (r1["n_emails"], r1["n_phones"], r1["n_ips"]) == (2, 1, 1)
    assert "<EMAIL>" in r1["redacted_text"] and "<PHONE>" in r1["redacted_text"]
    assert "bob@x.io" not in r1["redacted_text"] and "10.0.0.1" not in r1["redacted_text"]
    r2 = rows[2]
    assert (r2["n_emails"], r2["n_phones"], r2["n_ips"]) == (0, 0, 0)
    assert r2["redacted_text"] == "clean text only"


def test_dataset_split_deterministic_and_stable_under_growth(docs):
    full = {r["doc_id"]: r["split"] for r in CU.dataset_split(docs).collect()}
    n = len(full)
    # complete + proportions in sane bands
    from collections import Counter
    c = Counter(full.values())
    assert sum(c.values()) == n
    assert 0.8 <= c["train"] / n <= 0.97
    # subset reproduces identical assignments (growth stability)
    sub = {r["doc_id"]: r["split"]
           for r in CU.dataset_split(docs.filter(F.col("doc_id") % 3 == 0)).collect()}
    assert all(full[k] == v for k, v in sub.items())
    # different seed reshuffles at least something
    other = {r["doc_id"]: r["split"]
             for r in CU.dataset_split(docs, seed="split-v2").collect()}
    assert any(full[k] != other[k] for k in full)


def test_contamination_flags_planted_overlap(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(0, base),                       # eval doc
         (50, base + " extra tail words here now"),  # contaminated
         (51, "totally different words with no shared eight gram runs at all")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in CU.contamination_check(df, eval_max_id=20, n=8).collect()}
    assert 50 in rows and rows[50]["n_hit"] >= 1
    assert 51 not in rows  # inner join: uncontaminated docs drop out


def test_curation_plan_shapes(docs):
    """Pin the 100 TB plan claims: the contamination probe broadcasts
    the eval gram set; repetition metrics never leave the JVM."""
    from secure_agent_api_vector_search_spark.operators import textops as TX
    from secure_agent_api_vector_search_spark.plans.explain import physical_plan

    plan = physical_plan(CU.contamination_check(docs, eval_max_id=20, n=8))
    assert "BroadcastHashJoin" in plan

    plan = physical_plan(TX.doc_repetition(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_quality_percentile_filter_keeps_per_group_fraction(docs):
    from secure_agent_api_vector_search_spark.operators.curation import (
        quality_percentile_filter,
    )
    from pyspark.sql import functions as F

    out = quality_percentile_filter(docs, min_pct=0.2).cache()
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in totals.items():
        # percent_rank >= 0.2 keeps ~80% of every group (exact count
        # depends on rank granularity, never more than 80%+1)
        assert kept.get(lang, 0) <= n
        assert kept.get(lang, 0) >= int(0.75 * n) - 1
    # the cut is distributional: min kept quality >= max dropped quality
    # within each language
    marks = quality_percentile_filter(docs, min_pct=0.0)
    joined = marks.join(out.select("doc_id", F.lit(True).alias("_k")), "doc_id", "left")
    agg = (
        joined.groupBy("lang")
        .agg(
            F.min(F.when(F.col("_k"), F.col("quality"))).alias("min_kept"),
            F.max(F.when(F.col("_k").isNull(), F.col("quality"))).alias("max_dropped"),
        )
        .collect()
    )
    for r in agg:
        if r["max_dropped"] is not None:
            assert r["min_kept"] >= r["max_dropped"]
    out.unpersist()


def test_epoch_shuffle_deterministic_and_dense(docs, spark):
    from secure_agent_api_vector_search_spark.operators.curation import epoch_shuffle

    a = epoch_shuffle(docs, n_shards=8).collect()
    b = epoch_shuffle(docs, n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # pure function of (key, seed)
    assert len(a) == docs.count()
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))  # dense 1..|shard|


def test_epoch_shuffle_seed_changes_order_but_not_membership(docs):
    from secure_agent_api_vector_search_spark.operators.curation import epoch_shuffle

    e0 = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shuffle(docs, n_shards=8).collect()}
    e1 = {r["doc_id"]: (r["shard"], r["pos"])
          for r in epoch_shuffle(docs, n_shards=8, seed="epoch-1").collect()}
    assert set(e0) == set(e1)                     # same corpus, both epochs
    assert e0 != e1                               # a different permutation


def test_epoch_shuffle_hash_and_shard_growth_invariant(docs):
    """order_hash/shard of an existing doc never change when the corpus
    grows (only dense positions shift) — restartable incremental epochs."""
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators.curation import epoch_shuffle

    full = {r["doc_id"]: (r["order_hash"], r["shard"])
            for r in epoch_shuffle(docs, n_shards=8).collect()}
    half = {r["doc_id"]: (r["order_hash"], r["shard"])
            for r in epoch_shuffle(docs.filter(F.col("doc_id") % 2 == 0), n_shards=8).collect()}
    assert all(full[k] == v for k, v in half.items())


def test_epoch_shuffle_plan_one_hash_exchange_no_range_sort(docs):
    """The epoch order must come from ONE hash exchange + within-shard
    sort — never a global range sort (whose sampling pass would rescan)."""
    from secure_agent_api_vector_search_spark.operators.curation import epoch_shuffle

    plan = epoch_shuffle(docs, n_shards=8)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert plan.lower().count("exchange") == 1


def test_write_epoch_shards_layout_and_order(docs, spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators.curation import (
        epoch_shuffle,
        write_epoch_shards,
    )

    path = str(tmp_path / "epoch0")
    write_epoch_shards(docs, path, n_shards=4)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert len(dirs) == 4
    expect = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in epoch_shuffle(docs, n_shards=4).collect()
    }
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    for shard_dir in dirs:
        k = int(shard_dir.split("=")[1])
        files = [f for f in os.listdir(f"{path}/{shard_dir}") if f.endswith(".parquet")]
        assert len(files) == 1  # a shard never splits across files
        import pyarrow.parquet as pq

        t = pq.read_table(f"{path}/{shard_dir}/{files[0]}", columns=["doc_id", "pos"])
        ids, poss = t.column("doc_id").to_pylist(), t.column("pos").to_pylist()
        assert poss == sorted(poss) == list(range(1, len(poss) + 1))
        for d, p in zip(ids, poss):
            assert expect[d] == (k, p)  # file order IS the epoch order


def test_stratified_sample_deterministic_and_stable_under_growth(spark):
    from secure_agent_api_vector_search_spark.operators.curation import (
        stratified_sample,
    )

    rows = [(i, f"doc {i}", "src0" if i % 3 == 0 else "src1") for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    fr = {"src0": 1.0, "src1": 0.3}
    kept = {r["doc_id"] for r in stratified_sample(docs, fr).collect()}
    # src0 kept whole; src1 roughly at fraction (md5-uniform, 400 rows)
    assert all(i in kept for i in range(0, 600, 3))
    n_src1 = sum(1 for i in kept if i % 3 != 0)
    assert 80 <= n_src1 <= 160  # 0.3 * 400 = 120 expected
    # growth invariance: the first half of the corpus reproduces the
    # identical membership decisions (the property sampleBy lacks)
    half = {r["doc_id"] for r in stratified_sample(docs.filter("doc_id < 300"), fr).collect()}
    assert half == {i for i in kept if i < 300}
    # re-run: bit-identical
    assert kept == {r["doc_id"] for r in stratified_sample(docs, fr).collect()}


def test_stratified_sample_default_and_validation(spark):
    import pytest

    from secure_agent_api_vector_search_spark.operators.curation import (
        stratified_sample,
    )

    rows = [(i, "t", "unknown") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # default 0.0: undeclared strata are dropped, not passed through
    assert stratified_sample(docs, {"src0": 1.0}).count() == 0
    # explicit default keeps ~ the requested fraction
    n = stratified_sample(docs, {"src0": 1.0}, default=0.5).count()
    assert 150 <= n <= 250
    with pytest.raises(ValueError):
        stratified_sample(docs, {"src0": 1.5})


def test_mixture_upsample_copy_counts(spark):
    from secure_agent_api_vector_search_spark.operators.curation import mixture_upsample

    df = spark.createDataFrame(
        [(i, "t", "src_a" if i < 10 else "src_b") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    out = mixture_upsample(df, {"src_a": 3.0, "src_b": 0.0}, default=1.0)
    rows = out.collect()
    # integer weight: every src_a row exactly 3 copies, numbered 1..3
    a = [r for r in rows if r.source == "src_a"]
    assert len(a) == 30
    by_doc = {}
    for r in a:
        by_doc.setdefault(r.doc_id, []).append(r.copy)
    assert all(sorted(v) == [1, 2, 3] for v in by_doc.values())
    # zero weight: dropped entirely
    assert not [r for r in rows if r.source == "src_b"]


def test_mixture_upsample_fractional_deterministic_and_mass(spark):
    from secure_agent_api_vector_search_spark.operators.curation import mixture_upsample

    df = spark.createDataFrame(
        [(i, "t", "s") for i in range(1000)], ["doc_id", "text", "source"]
    )
    out1 = sorted((r.doc_id, r.copy) for r in mixture_upsample(df, {"s": 1.5}).collect())
    out2 = sorted((r.doc_id, r.copy) for r in mixture_upsample(df, {"s": 1.5}).collect())
    assert out1 == out2  # stable-hash: no RNG, rerun-identical
    # expected mass 1.5x, hash-uniform: allow a generous band
    assert 1400 <= len(out1) <= 1600
    # every row has at least its floor copy
    assert len({d for d, _ in out1}) == 1000


def test_mixture_upsample_validation(spark):
    from secure_agent_api_vector_search_spark.operators.curation import mixture_upsample

    df = spark.createDataFrame([(1, "t", "s")], ["doc_id", "text", "source"])
    with pytest.raises(ValueError):
        mixture_upsample(df, {"s": -0.1})
    with pytest.raises(ValueError):
        mixture_upsample(df, {}, default=-1.0)


def test_lm_likelihood_buckets_planted(spark):
    from secure_agent_api_vector_search_spark.operators.curation import (
        lm_likelihood_buckets,
    )

    # LM subset (src0) speaks 'aa bb cc'; doc 10 is pure in-vocab,
    # doc 11 half OOV, doc 12 fully OOV -> likelihood strictly ordered
    rows = [
        (0, "aa bb cc aa bb aa", "en", "src0"),
        (1, "aa aa bb cc cc bb", "en", "src0"),
        (10, "aa bb aa bb", "en", "crawl"),
        (11, "aa bb zz zz", "en", "crawl"),
        (12, "zz yy xx ww", "en", "crawl"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {r.doc_id: r for r in lm_likelihood_buckets(df).collect()}
    assert set(out) == {0, 1, 10, 11, 12}
    assert out[10].n_oov == 0 and out[11].n_oov == 2 and out[12].n_oov == 4
    assert out[10].lm_score > out[11].lm_score > out[12].lm_score
    # per-language percentile: most-likely doc has pctile 0.0, least 1.0
    assert out[12].lm_pctile == 1.0 and out[12].bucket == "tail"
    assert min(r.lm_pctile for r in out.values()) == 0.0
    # deterministic across reruns (no RNG anywhere)
    again = {r.doc_id: r.lm_score for r in lm_likelihood_buckets(df).collect()}
    assert all(again[d] == out[d].lm_score for d in again)


def test_lm_likelihood_score_is_exact_rational(spark):
    from secure_agent_api_vector_search_spark.operators.curation import (
        lm_likelihood_buckets,
    )

    # hand-computed: LM = 'aa bb' (T=2, V=2, tv=4); doc 5 = 'aa zz':
    # score = ((1+1) + (0+1)) / (2 * 4) = 3/8
    df = spark.createDataFrame(
        [(0, "aa bb", "en", "src0"), (5, "aa zz", "en", "crawl")],
        ["doc_id", "text", "lang", "source"],
    )
    out = {r.doc_id: r for r in lm_likelihood_buckets(df).collect()}
    assert out[5].lm_score == 3.0 / 8.0
    assert out[0].lm_score == (2 + 2) / (2 * 4)  # (c(aa)+1)+(c(bb)+1)=4


def test_source_drift_tvd_hand_computed(spark):
    from secure_agent_api_vector_search_spark.operators.curation import source_drift_tvd

    # corpus: 'a a b' (s1) + 'a b b b' (s2); m=7, corpus counts a=3, b=4
    # s1: n=3, dist (a:2/3, b:1/3); corpus (3/7, 4/7)
    # tvd = 0.5*(|2/3-3/7| + |1/3-4/7|) = 0.5*(5/21 + 5/21) = 5/21
    df = spark.createDataFrame(
        [(0, "a a b", "s1"), (1, "a b b b", "s2")], ["doc_id", "text", "source"]
    )
    out = {r.source: r for r in source_drift_tvd(df).collect()}
    assert out["s1"].n_tokens == 3 and out["s2"].n_tokens == 4
    assert abs(out["s1"].tvd - 5.0 / 21.0) < 1e-15
    # s2: 0.5*(|1/4-3/7| + |3/4-4/7|) = 0.5*(5/28 + 5/28) = 5/28
    assert abs(out["s2"].tvd - 5.0 / 28.0) < 1e-15


def test_source_drift_tvd_identical_source_is_zero(spark):
    from secure_agent_api_vector_search_spark.operators.curation import source_drift_tvd

    # one source == the corpus -> tvd exactly 0.0 (rational arithmetic:
    # no float dust)
    df = spark.createDataFrame([(0, "x y z x", "only")], ["doc_id", "text", "source"])
    rows = source_drift_tvd(df).collect()
    assert len(rows) == 1 and rows[0].tvd == 0.0


def test_source_drift_tvd_disjoint_vocab_is_one(spark):
    from secure_agent_api_vector_search_spark.operators.curation import source_drift_tvd

    # a source with vocabulary fully disjoint from the rest drifts
    # toward 1 as the rest dominates: tvd = 1 - n_s/m
    df = spark.createDataFrame(
        [(0, "p q r s t u v w", "big"), (1, "zz zz", "odd")],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in source_drift_tvd(df).collect()}
    assert abs(out["odd"].tvd - (1.0 - 2.0 / 10.0)) < 1e-15


def test_split_leakage_check_finds_planted_cross_split_pair(spark):
    from secure_agent_api_vector_search_spark.operators.curation import (
        dataset_split,
        split_leakage_check,
    )

    # find two ids the deterministic split puts in DIFFERENT splits,
    # and two it puts in the SAME split (no hardcoded hash values)
    ids = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    sp = {r.doc_id: r.split for r in dataset_split(ids).collect()}
    train = [i for i in sp if sp[i] == "train"]
    test = [i for i in sp if sp[i] == "test"]
    a, b = train[0], test[0]          # planted LEAK (cross-split near-dup)
    c, d = train[1], train[2]         # benign in-split near-dup
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (a, base), (b, base + " mu"),
        (c, base + " pi rho"), (d, base + " pi rho nu"),
        (train[3], "totally different words nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # the banding family adapts to the threshold: 0.5 now gets an
    # audit-grade (>=0.99 per-pair recall) family instead of a refusal;
    # only thresholds where no family fits the hash budget refuse
    with pytest.raises(ValueError):
        split_leakage_check(df, threshold=0.1)
    for kwargs in ({"via": "exact"}, {}):
        out = split_leakage_check(df, threshold=0.5, **kwargs)
        got = {(r.id_a, r.id_b): (r.split_a, r.split_b) for r in out.collect()}
        key = (min(a, b), max(a, b))
        assert key in got and set(got[key]) == {"train", "test"}
        # the in-split pair must NOT be reported
        assert (min(c, d), max(c, d)) not in got


def test_split_leakage_lsh_matches_exact(spark, docs):
    """The benched LSH form and the exact all-pairs form must agree on
    the full sf test corpus — same pairs, bit-identical jaccard."""
    from secure_agent_api_vector_search_spark.operators.curation import (
        split_leakage_check,
    )

    exact = {
        (r.id_a, r.id_b): (r.jaccard, r.split_a, r.split_b)
        for r in split_leakage_check(docs, via="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b): (r.jaccard, r.split_a, r.split_b)
        for r in split_leakage_check(docs, via="lsh").collect()
    }
    assert exact == lsh
    with pytest.raises(ValueError):
        split_leakage_check(docs, via="nope")
    with pytest.raises(ValueError):
        split_leakage_check(docs, via="lsh", block_col="lang")


def test_per_source_cap_salted_prepass_is_exact(spark, docs):
    """The salted two-stage top-N must reproduce the single-window
    form bit-for-bit (ids AND ranks), including on a corpus with one
    mega-source — the retention proof in the docstring, exercised."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators.curation import per_source_cap

    # skew: collapse every source to ONE hot domain for half the rows
    skewed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot.example")).otherwise(
            F.col("source")
        ).alias("source"),
        "n_chars",
    )
    got = sorted(
        (r["doc_id"], r["source"], r["rk"])
        for r in per_source_cap(skewed, cap=37).collect()
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ref = sorted(
        (r["doc_id"], r["source"], r["rk"])
        for r in skewed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 37)
        .collect()
    )
    assert got == ref and len(got) > 37  # hot source capped + others


def test_quality_percentile_cut_matches_window_form(spark, docs):
    """Kept set identical to quality_percentile_filter — with accuracy
    forced DOWN so every language takes the big-group sketch+band path
    (the gate corpus would otherwise exercise only whole-group bands)."""
    from secure_agent_api_vector_search_spark.operators.curation import (
        quality_percentile_cut,
        quality_percentile_filter,
    )

    want = sorted(
        r["doc_id"] for r in quality_percentile_filter(docs, min_pct=0.2).collect()
    )
    got = sorted(
        r["doc_id"]
        for r in quality_percentile_cut(docs, min_pct=0.2, accuracy=16).collect()
    )
    assert got == want and len(got) > 0


def test_quality_percentile_cut_edges_and_band_cap(spark, docs):
    import pytest as _pytest

    from secure_agent_api_vector_search_spark.operators.curation import (
        quality_percentile_cut,
    )

    n = docs.count()
    assert quality_percentile_cut(docs, min_pct=0.0).count() == n
    # min_pct=1.0 keeps exactly the per-group maximum row
    top = quality_percentile_cut(docs, min_pct=1.0)
    langs = docs.select("lang").distinct().count()
    assert top.count() == langs
    with _pytest.raises(ValueError, match="band_cap"):
        quality_percentile_cut(docs, min_pct=0.2, accuracy=16, band_cap=3)
    with _pytest.raises(ValueError, match="min_pct"):
        quality_percentile_cut(docs, min_pct=1.5)


def test_quality_percentile_cut_null_group_matches_window_form(spark, docs):
    """NULL is a legitimate group value: the cut must keep exactly the
    rows the window form keeps when some docs carry lang=NULL."""
    from pyspark.sql import functions as F

    from secure_agent_api_vector_search_spark.operators.curation import (
        quality_percentile_cut,
        quality_percentile_filter,
    )

    nulled = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ).alias("lang"),
        "text",
    )
    want = sorted(
        r["doc_id"] for r in quality_percentile_filter(nulled, min_pct=0.2).collect()
    )
    got = sorted(
        r["doc_id"] for r in quality_percentile_cut(nulled, min_pct=0.2).collect()
    )
    assert got == want and len(got) > 0


def test_split_leakage_threshold_one_exact_duplicates_via_lsh(spark):
    """threshold=1.0 (exact-duplicate audit): the adaptive banding
    short-circuits to a single band (collision probability 1), it must
    not refuse."""
    from secure_agent_api_vector_search_spark.operators.curation import (
        dataset_split,
        split_leakage_check,
    )

    ids = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    sp = {r.doc_id: r.split for r in dataset_split(ids).collect()}
    a = [i for i in sp if sp[i] == "train"][0]
    b = [i for i in sp if sp[i] == "test"][0]
    base = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [(a, base), (b, base), (a + 1000, "other words entirely here")],
        ["doc_id", "text"],
    )
    out = {(r.id_a, r.id_b): r.jaccard for r in split_leakage_check(df, threshold=1.0).collect()}
    assert out == {(min(a, b), max(a, b)): 1.0}


def _probe_docs(spark, tag: str, offset: int = 0):
    """A few dozen docs with planted near-duplicates, text unique to
    ``tag`` so no other test builds the same plan."""
    rows = [
        (offset + i, "%s probe %d words %s" % (tag, i, "x y z w v u t " * 4))
        for i in range(24)
    ] + [
        (offset + 100 + i, "%s probe %d words %s" % (tag, i, "x y z w v u t " * 4))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )


def _materializing_calls():
    from secure_agent_api_vector_search_spark.operators import dedup as D

    return {
        "minhash_near_dup_pairs": lambda s: D.minhash_near_dup_pairs(
            _probe_docs(s, "near-dup")
        ),
        "minhash_similarity_join": lambda s: D.minhash_similarity_join(
            _probe_docs(s, "sim-join"), _probe_docs(s, "sim-join", offset=1000)
        ),
        "ngram_jaccard_pairs_lsh": lambda s: D.ngram_jaccard_pairs_lsh(
            _probe_docs(s, "ngram-lsh")
        ),
        "split_leakage_check_lsh": lambda s: CU.split_leakage_check(
            _probe_docs(s, "leakage"), via="lsh"
        ),
        "minhash_incremental": lambda s: D.minhash_incremental(
            _probe_docs(s, "incremental"), _probe_docs(s, "incremental", offset=1000)
        ),
        "quality_percentile_cut": lambda s: CU.quality_percentile_cut(
            _probe_docs(s, "quality")
        ),
    }


@pytest.mark.parametrize("op", sorted(_materializing_calls()))
def test_operator_results_are_self_freeing_checkpoints(spark, monkeypatch, op):
    """Operators materialize with eager local checkpoints, never with a
    persisted frame a caller would have to release: the call persists
    nothing, its result is not cached, and every persistent RDD it
    created is gone once the result is dropped and the JVM collects
    it. Tracks NEW rdd ids, not absolute counts: the session is shared,
    and Spark's ContextCleaner frees earlier tests' frames
    asynchronously."""
    import gc
    import time

    from pyspark import StorageLevel

    frame_cls = type(spark.range(1))
    calls = []
    for name in ("persist", "cache"):
        real = getattr(frame_cls, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(frame_cls, name, spy)
    jsc = spark.sparkContext._jsc

    def persisted_ids() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    out = _materializing_calls()[op](spark)
    out.collect()
    assert calls == []
    assert out.storageLevel == StorageLevel.NONE
    new = persisted_ids() - before
    del out
    deadline = time.monotonic() + 15.0
    while True:
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        left = persisted_ids() & new
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, f"{op} left persistent RDDs {sorted(left)} after GC"


def test_split_leakage_pairs_supplied_matches_built_forms(spark, docs):
    """The amortized pairs= form must agree with the self-built exact
    form when fed the same verified pair frame, filter rows below the
    audit threshold, and never touch the banded-pair build."""
    from secure_agent_api_vector_search_spark.operators.curation import (
        split_leakage_check,
    )
    from secure_agent_api_vector_search_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    built = {
        (r.id_a, r.id_b): (r.jaccard, r.split_a, r.split_b)
        for r in split_leakage_check(docs, via="exact", threshold=0.6).collect()
    }
    # pairs computed once at a LOWER threshold (the pipeline's dedup
    # stage shape) — the audit re-filters to its own threshold
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.4)
    supplied = {
        (r.id_a, r.id_b): (r.jaccard, r.split_a, r.split_b)
        for r in split_leakage_check(docs, threshold=0.6, pairs=pairs).collect()
    }
    assert supplied == built
