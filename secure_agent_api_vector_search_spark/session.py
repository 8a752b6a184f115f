"""SparkSession factory tuned for this engine.

Local mode is the test bed; the settings are chosen so the same code
is correct on a multi-executor cluster (AQE, sane shuffle partition
count, Arrow for the few Pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory in whole GiB, at most 32g. A
    heap cap above physical memory lets the heap grow until the kernel
    OOM-kills the JVM (a 32g cap on a 16 GB machine died mid-run with
    ~15 GB resident); half leaves room for the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf: keep 32g
        return "32g"
    return f"{max(1, min(32, phys // 2**31))}g"


def get_session(app_name: str = "secure_agent_api_vector_search_spark",
                cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/resource settings come from spark-submit instead;
    everything set here is master-agnostic except ``local[N]``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = str(max(cpus, 32))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces at runtime
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the events table stores TIMESTAMP(NANOS), which the vectorized
        # parquet reader rejects; read nanos as long session-wide (the
        # loader truncates to µs). Set here, not per-read, so loaders
        # never mutate shared session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off by default (port + thread overhead in tests); the bench
        # enables it per-session to read per-stage shuffle metrics from
        # the status REST API ($SPARK_GRAFT_UI=1)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        # local mode runs driver + all executor threads in ONE JVM, so
        # this heap backs 32 concurrent tasks' shuffle/cache/UDF buffers;
        # 8g GC-thrashed under the LSH band joins at local[32] (2x
        # run-to-run swings), hence 32g where the machine has 64 GB;
        # smaller machines get half their memory ($SPARK_DRIVER_MEM
        # overrides). On a real cluster this is spark.executor.memory
        # territory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # ONE BLAS thread per Python worker: Spark already supplies the
        # task-level parallelism, and N workers × multi-threaded
        # OpenBLAS oversubscribes the cores with spin-waiting BLAS
        # threads — measured 2x on the cluster-blocked near-dup's gram
        # screen at local[32] (r14 scaling tier: 11.5 s → 5.6 s warm).
        # GEMM/GEMV outputs are per-element serial kernels, so values
        # are thread-count-invariant; the DRIVER's env is deliberately
        # untouched (the k-means fit's Lloyd matmuls keep their
        # threads). Standard practice for numpy-heavy UDFs (guide §9).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create (the
    driver owns the session in the `__spark_entry__` contract)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
