"""Stage-table writer seam: one place where checkpoint format is chosen.

The pipeline checkpoints every stage (extract/link/canonicalize/
materialize — the done-file resume pattern of the reference's
extract_training_data_from_umls.py:82,398-400,569-594). WHERE a stage
lands is a physical-design decision that must not leak into the
pipeline logic, so it is isolated here behind a format flag:

  parquet         plain parquet directory, optionally partitioned by an
                  entity-hash bucket column (sandbox default — what the
                  driver measures).
  bucketed_table  bucketBy(n, key).sortBy(key).saveAsTable: both KG
                  tables land pre-bucketed, so every subsequent join on
                  the key is co-located — NO Exchange in the plan
                  (asserted by tests/test_tableio.py). This is the
                  10^12-row physical design for the node/edge tables.
  iceberg         df.writeTo(ident).partitionedBy(bucket(n, key)) — the
                  same layout expressed through the DataSourceV2 API,
                  giving snapshot isolation + incremental reads between
                  snapshots (what incremental mode stands in for). The
                  sandbox has no Iceberg catalog jars, so this path
                  raises a clear error instead of pretending; the call
                  shape is real and unit-covered up to the catalog
                  check.

Default resolution: explicit argument > $SPARK_GRAFT_TABLE_FORMAT >
"parquet". Every entry records its format in the manifest so a resumed
run reads each stage back however it was written.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

FORMATS = ("parquet", "bucketed_table", "iceberg")


def resolve_format(fmt: str | None) -> str:
    fmt = fmt or os.environ.get("SPARK_GRAFT_TABLE_FORMAT") or "parquet"
    if fmt not in FORMATS:
        raise ValueError(f"unknown table format {fmt!r}; expected one of {FORMATS}")
    return fmt


def _table_ident(out_dir: str, stage: str) -> str:
    # deterministic per (out_dir, stage) so resume finds the same table.
    # The slug alone is lossy (re.sub maps /tmp/run-1 and /tmp/run_1 to
    # the same name, and overwrite-mode saveAsTable would silently
    # clobber the other run) — a short hash of the RAW out_dir makes the
    # ident collision-free while staying deterministic.
    import hashlib

    slug = re.sub(r"[^A-Za-z0-9_]", "_", out_dir.strip("/"))
    h = hashlib.sha1(out_dir.encode()).hexdigest()[:8]
    return f"kg_{slug}_{h}_{stage}"


def _observe_lineage(
    df: DataFrame, bucket_col: str | None, n_buckets: int
) -> tuple[DataFrame, Callable[[], dict]]:
    """Attach the stage's lineage counters to the frame about to be
    written, so the write job itself computes them (DataFrame.observe)
    instead of a read-back job after it. Returns the observed frame and
    a function that, after the write, gives the entry fields:
    {"rows": n}, or with bucket_col {"partition_lineage": {bucket: n}}
    over pmod(xxhash64(bucket_col), n_buckets) — the parquet layout's
    bucket directories — listing only non-empty buckets.

    The per-bucket counts are one array of count_if aggregates parsed
    from one SQL string: a handful of py4j round trips, where n_buckets
    separately built Columns cost thousands."""
    obs = Observation()
    if bucket_col is None:
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        return observed, lambda: {"rows": obs.get["rows"]}
    bucket = f"pmod(xxhash64(`{bucket_col}`), {n_buckets})"
    counts = ", ".join(f"count_if({bucket} = {b})" for b in range(n_buckets))
    observed = df.observe(obs, F.expr(f"array({counts})").alias("buckets"))
    return observed, lambda: {
        "partition_lineage": {str(b): n for b, n in enumerate(obs.get["buckets"]) if n}
    }


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    fmt: str | None = None,
    bucket_col: str | None = None,
    n_buckets: int = 64,
) -> dict:
    """Write one stage table; returns the manifest entry used to read it
    back ({format, path|table, schema, done}) with the lineage the write
    job observed: "rows", or with bucket_col the row count per
    entity-hash bucket ("partition_lineage"). A resume VALIDATES a
    parquet checkpoint against it (validate_stage); the pipeline reads
    its row counters from it. Iceberg keeps the same stats in its own
    snapshot manifests, and the bucketed_table layout has no partition
    directories, but both record the counts so the counters read the
    same on every format."""
    fmt = resolve_format(fmt)
    path = os.path.join(out_dir, stage)
    entry: dict = {"format": fmt, "done": True}
    observed, lineage = _observe_lineage(df, bucket_col, n_buckets)

    if fmt == "parquet":
        if bucket_col is not None:
            # entity-hash bucket partitioning (north rule): co-locates
            # each entity's rows; partition pruning serves point lookups.
            out = observed.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
            )
            out.write.mode("overwrite").partitionBy("bucket").parquet(path)
            # recorded so append_stage can re-derive the partition column
            entry["bucket_col"] = bucket_col
            entry["n_buckets"] = n_buckets
        else:
            out = observed
            out.write.mode("overwrite").parquet(path)
        entry["path"] = path
        # schema pinned: an empty stage output writes no part files, so
        # a RESUMING run could not infer it otherwise.
        entry["schema"] = out.schema.json()
    elif fmt == "bucketed_table":
        ident = _table_ident(out_dir, stage)
        key = bucket_col or df.columns[0]
        (
            observed.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(ident)
        )
        entry.update(table=ident, bucket_col=key, schema=df.schema.json())
    else:
        # fmt == "iceberg": the V2 writer call, gated on a configured catalog.
        catalog = df.sparkSession.conf.get("spark.sql.catalog.kg", None)
        if not catalog:
            raise RuntimeError(
                "table format 'iceberg' needs an Iceberg catalog on the session "
                "(spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog + "
                "iceberg-spark-runtime on the classpath); neither is available "
                "in this sandbox. Use format='bucketed_table' for the same "
                "co-located-join layout through the builtin catalog."
            )
        ident = f"kg.{_table_ident(out_dir, stage)}"
        writer = observed.writeTo(ident).using("iceberg")
        if bucket_col is not None:
            writer = writer.partitionedBy(F.bucket(n_buckets, F.col(bucket_col)))
        writer.createOrReplace()
        entry.update(table=ident, bucket_col=bucket_col, schema=df.schema.json())
    entry.update(lineage())
    return entry


def append_stage(df: DataFrame, entry: dict) -> None:
    """Append rows to an existing stage table (incremental mode's delta
    write; on Iceberg this commits a new snapshot).

    MUTATES entry's recorded lineage (rows / partition_lineage) to the
    post-append truth, re-counted from the parquet files (partition
    directories + footers) — without it validate_stage would flag every
    healthy appended checkpoint as corrupt (stale expected counts). The
    table formats drop theirs instead: nothing validates them, and a
    stale count must not be read as the table's. Callers persist the
    updated entry by rewriting the manifest, which the incremental
    path already does."""
    fmt = entry.get("format", "parquet")
    if fmt == "parquet":
        # a bucket-partitioned stage must keep its layout on append —
        # re-derive the partition column exactly as write_stage did
        # (appending unpartitioned rows would read back bucket=null).
        if entry.get("bucket_col") and "bucket" not in df.columns:
            df = df.withColumn(
                "bucket",
                F.pmod(
                    F.xxhash64(F.col(entry["bucket_col"])),
                    F.lit(entry.get("n_buckets", 64)),
                ),
            )
        if "bucket" in df.columns:
            df.write.mode("append").partitionBy("bucket").parquet(entry["path"])
        else:
            df.write.mode("append").parquet(entry["path"])
        back = df.sparkSession.read.parquet(entry["path"])
        if "partition_lineage" in entry:
            counts = back.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
            entry["partition_lineage"] = {
                str(r["bucket"]): r["n"] for r in counts
            }
        elif "rows" in entry:
            entry["rows"] = back.count()
    elif fmt == "bucketed_table":
        df.write.mode("append").insertInto(entry["table"])
    else:  # iceberg
        df.writeTo(entry["table"]).append()
    if fmt != "parquet":
        entry.pop("rows", None)
        entry.pop("partition_lineage", None)


def read_stage(spark: SparkSession, entry: dict) -> DataFrame:
    """Read a stage table back exactly as recorded in its manifest entry."""
    from pyspark.sql.types import StructType
    import json as _json

    fmt = entry.get("format", "parquet")
    if fmt in ("bucketed_table", "iceberg"):
        return spark.table(entry["table"])
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(_json.loads(entry["schema"])))
    return reader.parquet(entry["path"])


def validate_stage(spark: SparkSession, entry: dict) -> dict:
    """Resume-time checkpoint audit: re-count the stage's partitions and
    diff against the lineage recorded at write time. Returns
    {ok, expected, actual, mismatched} — a partial write (task retries
    that half-committed, an operator deleting bucket dirs, a copy that
    dropped files) shows up as mismatched buckets BEFORE a resumed run
    silently builds on a corrupt checkpoint. Metadata-cost only: the
    per-bucket count reads directory names + parquet footers."""
    fmt = entry.get("format", "parquet")
    if fmt != "parquet":
        # table formats validate through their own catalog/snapshot
        # machinery (Iceberg manifests carry per-file row counts)
        return {"ok": True, "expected": None, "actual": None, "mismatched": {}}
    df = read_stage(spark, entry)
    if "partition_lineage" in entry:
        expected = {str(k): int(v) for k, v in entry["partition_lineage"].items()}
        actual = {
            str(r["bucket"]): r["n"]
            for r in df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    elif "rows" in entry:
        expected = {"_total": int(entry["rows"])}
        actual = {"_total": df.count()}
    else:  # pre-lineage manifest (older checkpoint): nothing to diff
        return {"ok": True, "expected": None, "actual": None, "mismatched": {}}
    mismatched = {
        k: {"expected": expected.get(k, 0), "actual": actual.get(k, 0)}
        for k in set(expected) | set(actual)
        if expected.get(k, 0) != actual.get(k, 0)
    }
    return {
        "ok": not mismatched,
        "expected": expected,
        "actual": actual,
        "mismatched": mismatched,
    }
