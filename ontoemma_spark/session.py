"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster via spark-submit --conf. AQE handles
runtime skew/coalesce, including the token join in operators/blocking.py.

driver_row_cap() is the one size gate of every kernel that has a
driver-side fast path: it derives the cap from the session's own
spark.sql.autoBroadcastJoinThreshold, so lowering or disabling that
threshold moves every kernel to its distributed plan. gated_collect()
applies it to a table the fast path collects, in one action.

The generated-class cache (spark.sql.codegen.cache.maxEntries) holds
CODEGEN_CACHE_ENTRIES classes. Spark's default of 100 is smaller than
one run_pipeline(fuse=True) pass over the benchmark's kg_build inputs,
which compiles about 185 distinct classes, so with it every warm pass
evicts and recompiles nearly all of them (189 at seed 7, each followed
by its JIT work). At 1000 a warm pass compiles under 10. Generated
classes average 2.8 KB of bytecode (max 21 KB), so a full cache holds
about 3 MB of it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ontoemma_spark import config

# ≥ 5× the ~185 generated classes of one kg_build pipeline pass
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "ontoemma-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores; on a real cluster this would be
        # ~2-3x total cores, or left to AQE coalescing from a high initial.
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) if "[" in master else 200
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas-UDF boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.ARROW_MAX_RECORDS_PER_BATCH),
        )
        # Parquet vectorized reader + pushdown are on by default.
        # Split size is parameterised (guide §6). MEASURED NEGATIVE
        # RESULT (r6): a 2m local default — meant to let the testdata's
        # multi-row-group files (lineitem, orders) scan in parallel —
        # helped nothing (bow_tie 12.5s→12.3s) and slowed the
        # spread()-based document pipelines ~2x (substring_dup_pairs
        # 3.9s→6.5s, repetition_scores 1.6s→3.0s, isolated A/B), so the
        # default stays 128m; single-split parallelism is bought by
        # spread() at the operators that need it instead. On a real
        # cluster with large scans raise toward 512m-1g (guide §2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_row_cap(df: DataFrame, *cols: str) -> int:
    """Largest n for which n rows of ``df[cols]`` fit on the driver.

    A side of n rows fits when n × width ≤ the session's
    spark.sql.autoBroadcastJoinThreshold, the same bound Spark puts on a
    broadcast build side. width is Spark's own per-row estimate for the
    collected columns (defaultSize: 20 for string, 8 for bigint/double).
    The threshold is read on every call, so a runtime ``spark.conf.set``
    applies to the next kernel call. A disabled threshold (-1) returns
    -1: nothing fits, not even an empty side. Callers measure n with the
    probe they already run and take the fast path iff n <= the cap.
    """
    threshold = (
        df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    if threshold < 0:
        return -1
    schema = df._jdf.schema()
    width = sum(schema.apply(c).dataType().defaultSize() for c in cols)
    return threshold // width


def gated_collect(df: DataFrame, *cols: str) -> list[tuple] | None:
    """The rows of ``df[cols]`` as tuples when they fit on the driver
    (at most driver_row_cap(df, *cols) of them), else None.

    One action, and the driver never receives more than cap + 1 rows:
    each partition is limited to cap + 1 locally, in parallel, and the
    survivors come back as Arrow. A plain limit(n).collect() would scan
    the partitions one job at a time until n rows turned up, running an
    uncached upstream one partition after another."""
    cap = driver_row_cap(df, *cols)
    table = df.select(*cols).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return list(zip(*(table.column(c).to_pylist() for c in cols)))
