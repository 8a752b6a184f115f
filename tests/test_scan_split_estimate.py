"""Tests for the filesystem scan-split estimator (sources/tables.py,
r14 — VERDICT r13 item 4): the narrow-scan rebalance decision must be
identical to the ``df.rdd`` planning probe it replaces, at zero py4j
cost."""

from __future__ import annotations

import os

from secure_agent_api_vector_search_spark.sources import tables as T


def test_estimate_matches_spark_partition_count(spark, sf_dir):
    """The estimate replicates Spark's FilePartition packing exactly on
    every gate table (single small files AND any multi-file layout the
    generators produce)."""
    for name in T.TABLES:
        path = f"{sf_dir}/{name}.parquet"
        actual = T.load_table(spark, sf_dir, name).rdd.getNumPartitions()
        est = T.estimate_scan_splits(spark, path)
        assert est == actual, (name, est, actual)


def test_estimate_is_none_for_unstatable_path(spark):
    assert T.estimate_scan_splits(spark, "/nonexistent/nowhere.parquet") is None


def test_rebalance_decision_parity(spark, sf_dir):
    """rebalance_if_narrow(est_parts=...) must make the same decision
    (and produce the same partition count) as the probe-based form."""
    df = T.load_documents(spark, sf_dir)
    est = T.estimate_scan_splits(spark, f"{sf_dir}/documents.parquet")
    via_probe = T.rebalance_if_narrow(df)
    via_est = T.rebalance_if_narrow(df, est_parts=est)
    assert via_probe.rdd.getNumPartitions() == via_est.rdd.getNumPartitions()
    # a wide estimate must leave the frame untouched (the 100 TB no-op)
    wide = T.rebalance_if_narrow(df, est_parts=10_000)
    assert wide is df


def test_estimate_memoizes_on_listing_signature(spark, sf_dir, tmp_path):
    """Same listing -> memo hit; a rewritten file (new mtime/size) must
    invalidate — the memo is plan metadata keyed on the bytes on disk,
    never a result cache."""
    p = tmp_path / "t.parquet"
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(str(p))
    e1 = T.estimate_scan_splits(spark, str(p))
    assert e1 == T.estimate_scan_splits(spark, str(p))
    spark.range(100_000).repartition(4).write.mode("overwrite").parquet(str(p))
    e2 = T.estimate_scan_splits(spark, str(p))
    actual = spark.read.parquet(str(p)).rdd.getNumPartitions()
    assert e2 == actual


def test_bytes_conf_parsing():
    class FakeConf:
        def __init__(self, v):
            self.v = v

        def get(self, key, default=None):
            return self.v

    assert T._bytes_conf(FakeConf("134217728"), "k", 0) == 128 << 20
    # a bare `b` suffix is bytes, not an unparseable value
    assert T._bytes_conf(FakeConf("134217728b"), "k", 0) == 128 << 20
    assert T._bytes_conf(FakeConf("128m"), "k", 0) == 128 << 20
    assert T._bytes_conf(FakeConf("4MB"), "k", 0) == 4 << 20
    assert T._bytes_conf(FakeConf("1g"), "k", 0) == 1 << 30
    assert T._bytes_conf(FakeConf(None), "k", 7) == 7
