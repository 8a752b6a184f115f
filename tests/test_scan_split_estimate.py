"""The narrow-scan rebalance reads its partition count off the frame's
own analyzed plan (sources/tables.py::planned_partitions). Wherever the
plan walk gives a number it must equal the ``df.rdd`` probe it stands
in for, on multi-file layouts and under every split conf and spelling
Spark accepts; a frame it cannot count falls back to the probe."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark import catalog
from secure_agent_api_vector_search_spark.sources import tables as T

# every catalog constructor that used to pass a hand-made scan estimate
# (or called rebalance_if_narrow through the documents loader)
_REBALANCING_QUERIES = [
    "dedup_near_keep_first", "bpe_encode", "bpe_encode_pipeline",
    "tokenizer_fertility", "bpe_tokenize_corpus", "split_leakage_check",
    "ngram_lsh_vs_exact_diff", "embedding_lsh_vs_exact_diff",
    "textjoin_lsh_vs_exact_diff", "minhash_vs_exact_diff", "minhash_near_dup",
    "ngram_jaccard_lsh", "embedding_neardup_lsh", "similarity_join_lsh",
    "text_similarity_join", "image_decode_features", "image_decode_png",
    "image_decode_gif", "image_decode_bmp", "image_decode_tiff",
    "image_decode_webp", "image_decode_jpeg", "media_metadata",
    "audio_metadata", "media_inventory", "image_neardup",
    "video_frame_features", "video_frame_features_mjpeg",
    "video_frame_features_mp4", "video_frame_features_avi",
    "audio_decode_features", "audio_mp3_summary",
]


_MAX_BYTES = "spark.sql.files.maxPartitionBytes"
_OPEN_COST = "spark.sql.files.openCostInBytes"
_LEAF = "spark.sql.leafNodeDefaultParallelism"
_MIN_NUM = "spark.sql.files.minPartitionNum"
_MAX_NUM = "spark.sql.files.maxPartitionNum"

# Spark's default split sizes in two more spellings, sizes small enough
# to cut and pack the test files, and the three parallelism confs
_CONFS = [
    {_MAX_BYTES: "134217728b", _OPEN_COST: "4MB"},
    {_MAX_BYTES: "1g", _OPEN_COST: "8k"},
    {_MAX_BYTES: "16k", _OPEN_COST: "4k"},
    {_MAX_BYTES: "8192", _OPEN_COST: "1024"},
    {_MAX_BYTES: "4k", _OPEN_COST: "0"},
    {_LEAF: "3"},
    {_LEAF: "3", _MAX_BYTES: "4k"},
    {_MIN_NUM: "11"},
    {_MIN_NUM: "11", _MAX_BYTES: "4k"},
    {_MAX_NUM: "2"},
    {_MAX_NUM: "2", _MAX_BYTES: "4k"},
]


@contextlib.contextmanager
def _confs(spark, confs):
    """Set SQL confs, then restore the previous values."""
    before = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    """1-, 8- and 37-file parquet copies of the documents table, range
    split on doc_id so the file sizes differ."""
    root = tmp_path_factory.mktemp("layouts")
    docs = T.load_documents(spark, sf_dir)
    out = {}
    for n in (1, 8, 37):
        path = str(root / f"f{n}")
        docs.repartitionByRange(n, "doc_id").write.parquet(path)
        out[n] = path
    return out


def _shapes(spark, path):
    d = spark.read.parquet(path)
    return {
        "scan": d,
        "narrow": d.filter(F.col("doc_id") > 3).select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        ),
        "union": d.unionAll(spark.read.parquet(path).filter(F.col("doc_id") < 9)),
        "repartitioned": d.select("doc_id").repartition(7),
    }


def test_estimate_matches_spark_partition_count(spark, sf_dir):
    """The plan walk counts every gate table's scan exactly."""
    for name in T.TABLES:
        df = T.load_table(spark, sf_dir, name)
        assert T.planned_partitions(df) == df.rdd.getNumPartitions(), name


@pytest.mark.parametrize(
    "confs", _CONFS,
    ids=lambda c: "-".join(f"{k.rsplit('.', 1)[1]}={v}" for k, v in c.items()),
)
def test_plan_walk_matches_spark_across_layouts_and_confs(spark, layouts, confs):
    with _confs(spark, confs):
        for n_files, path in layouts.items():
            for shape, df in _shapes(spark, path).items():
                walk = T.planned_partitions(df)
                assert walk == df.rdd.getNumPartitions(), (n_files, shape)


def test_plan_walk_falls_back_to_the_probe(spark, sf_dir):
    """Frames the walk cannot count (after an aggregate, spark.range, a
    shuffle under a union) give None, and the rebalance then decides by
    the probe as before."""
    dp = spark.sparkContext.defaultParallelism
    docs = T.load_documents(spark, sf_dir)
    for df in (
        docs.groupBy("source").count(),
        spark.range(0, 100, 1, 1),
        docs.repartition(5).unionAll(docs.repartition(5)),
    ):
        assert T.planned_partitions(df) is None
        expected = max(df.rdd.getNumPartitions(), dp)
        assert T.rebalance_if_narrow(df).rdd.getNumPartitions() == expected


def test_rebalance_decision_parity(spark, sf_dir):
    """rebalance_if_narrow makes the probe's decision: a narrow scan is
    round-robin repartitioned to defaultParallelism, a wide one is left
    untouched (the 100 TB no-op)."""
    dp = spark.sparkContext.defaultParallelism
    docs = T.load_documents(spark, sf_dir)
    probe = docs.rdd.getNumPartitions()
    out = T.rebalance_if_narrow(docs)
    assert out.rdd.getNumPartitions() == max(probe, dp)
    wide = docs.repartition(dp + 1)
    assert T.rebalance_if_narrow(wide) is wide


@pytest.mark.parametrize("name", _REBALANCING_QUERIES)
def test_catalog_rebalance_sites_resolve_without_probe(
    spark, sf_dir, monkeypatch, name
):
    """Every frame a catalog constructor hands to rebalance_if_narrow is
    counted by the plan walk (no probe) and the count is Spark's."""
    seen = []
    walk = T.planned_partitions

    def record(df):
        n = walk(df)
        seen.append((df, n))
        return n

    monkeypatch.setattr(T, "planned_partitions", record)
    getattr(catalog, name)(spark, sf_dir)
    monkeypatch.undo()
    assert seen, f"{name} no longer rebalances"
    for df, n in seen:
        assert n is not None, name
        assert n == df.rdd.getNumPartitions(), name
