"""Parquet table sources.

Reference mapping: the single AlloyDB table source (`tools.yaml:1-10`,
S1 in SURVEY.md §2.1) becomes partitioned parquet read through the
DataFrame reader — columnar, with predicate pushdown and column pruning
handled by Catalyst. The fixed DDL (`sql/02_schema.sql:2-15`, S2) maps
to the parquet-embedded schema; we validate rather than re-declare.

At 100 TB these reads are the scan layer: parquet row-group statistics
give min/max skipping, and any `filter`/`select` applied downstream is
pushed into the scan (verify with `df.explain` → `PushedFilters`).

The narrow-scan rebalance (:func:`rebalance_if_narrow`) owns its
decision: it reads a frame's partition count off the frame's analyzed
plan, packing file splits the way Spark does, so no caller passes an
estimate down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver-provided test tables (TESTDATA.md): TPC-H-ish star schema plus
# the document/vector corpus mirroring the reference's
# `customer_records_data` (sql/02_schema.sql:2-15) split into
# documents (scalar cols) + embeddings (the vector(768) analog).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # ts has appeared as TIMESTAMP(NANOS) (read as long via
        # spark.sql.legacy.parquet.nanosAsLong=true, see session.py) or as
        # TIMESTAMP(MICROS) depending on the generator; normalize both to a
        # µs timestamp (matching DuckDB's µs timestamps exactly)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document corpus (analog of `customer_records_data` minus the
    vector column, sql/02_schema.sql:2-13)."""
    return load_table(spark, sf_dir, "documents")


def load_embeddings(spark: SparkSession, sf_dir: str, as_double: bool = True) -> DataFrame:
    """The vector corpus (analog of `abstract_embeddings vector(768)`,
    sql/02_schema.sql:14; here dim=64 float).

    ``as_double=True`` widens the array to float64 once at the scan
    boundary so every downstream similarity expression is float64 —
    this matches the DuckDB oracle bit-for-bit and avoids repeated
    per-expression casts.
    """
    df = load_table(spark, sf_dir, "embeddings")
    if as_double:
        df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return df


# Plan nodes that keep their child's partitions one for one.
_NARROW_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "Generate"})


def planned_partitions(df: DataFrame) -> int | None:
    """How many partitions ``df`` will run with, read off its already
    analyzed logical plan (neither the optimizer nor the planner runs).

    Narrow nodes keep their child's count, a ``Union`` sums its
    children, a round-robin ``repartition(n)`` gives ``n``, and a plain
    parquet scan gives Spark's own split packing of its file listing
    (:func:`_file_scan_partitions`). Any other node (aggregates, joins,
    ``Range``, local relations, JDBC, other file formats, partitioned
    or bucketed tables) gives None: the count is then only known by
    planning the frame."""
    return _node_partitions(
        df._jdf.queryExecution().analyzed(), df._jdf.sparkSession()
    )


def _node_partitions(node, jss, in_union: bool = False) -> int | None:
    name = node.nodeName()
    if name in _NARROW_NODES:
        return _node_partitions(node.child(), jss, in_union)
    if name == "Union":
        kids = node.children()
        counts = [
            _node_partitions(kids.apply(i), jss, True) for i in range(kids.length())
        ]
        return None if None in counts else sum(counts)
    if name == "Repartition":
        # Union children that share one reused exchange are zipped, not
        # summed, so a shuffle under a Union is left to the probe
        return node.numPartitions() if node.shuffle() and not in_union else None
    if name == "LogicalRelation":
        return _file_scan_partitions(node.relation(), jss)
    return None


def _file_scan_partitions(rel, jss) -> int | None:
    """Splits of a non-partitioned, non-bucketed parquet relation (a
    parquet file splits at any byte offset), packed the way
    ``FileSourceScanExec`` does (``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``), with the split confs read through SQLConf's
    typed getters so every spelling Spark accepts parses as Spark
    parses it."""
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().nonEmpty()
        or rel.bucketSpec().isDefined()
    ):
        return None
    conf = jss.sessionState().conf()
    max_bytes = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    min_num = conf.filesMinPartitionNum()
    min_num = min_num.get() if min_num.isDefined() else jss.leafNodeDefaultParallelism()
    listing = rel.location().allFiles()
    sizes = [listing.apply(i).getLen() for i in range(listing.length())]
    sizes = [size for size in sizes if size > 0]
    total = sum(size + open_cost for size in sizes)
    max_split = min(max_bytes, max(open_cost, total // min_num))
    # cut every file at max_split, then sort all splits largest first
    splits = sorted(
        (min(max_split, size - off) for size in sizes
         for off in range(0, size, max_split)),
        reverse=True,
    )
    n = _pack(splits, max_split, open_cost)
    max_num = conf.filesMaxPartitionNum()
    if max_num.isDefined() and n > max_num.get():
        # Spark re-packs the same splits into at most maxPartitionNum
        total = sum(s + open_cost for s in splits)
        n = _pack(splits, -(-total // max_num.get()), open_cost)
    return n


def _pack(splits: list[int], max_split: int, open_cost: int) -> int:
    """Partitions ``FilePartition.getFilePartitions`` makes of
    ``splits`` (sorted descending): next-fit, closing a partition when
    the next split would overflow ``max_split``; the open cost is
    charged once a split is added."""
    n, cur = 0, 0
    for s in splits:
        if cur and cur + s > max_split:
            n += 1
            cur = 0
        cur += s + open_cost
    return n + (1 if cur else 0)


def rebalance_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan under-splits, so a
    CPU-heavy map stage (Pandas-UDF signature/sketch/embed) gets full
    parallelism.

    A single small parquet file yields 1-2 input splits; a Pandas UDF
    downstream then runs on 2 of N cores (measured: the MinHash
    signature stage at sf0.1 was 10.5 s at parallelism 2, ~1.5 s
    rebalanced). The branch only fires when input partitions <
    defaultParallelism — on a real cluster reading 100 TB the scan has
    one split per ~128 MB and this is a no-op, so the shuffle cost is
    bounded by exactly the small-input case that needs it.

    The partition count comes from the frame's own plan
    (:func:`planned_partitions`, a few ms); only a frame the plan walk
    cannot count (e.g. one after an aggregate) pays the ``df.rdd``
    probe, which plans the frame and, under AQE, runs the shuffle
    stages below it.
    """
    min_parts = df.sparkSession.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < min_parts:
        return df.repartition(min_parts)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
