"""Stage-table writer seam: every checkpoint is written, appended, read
and validated here.

The pipeline checkpoints every stage (extract/link/canonicalize/
materialize — the done-file resume pattern of the reference's
extract_training_data_from_umls.py:82,398-400,569-594). Each stage lands
as a parquet directory, optionally partitioned by an entity-hash bucket
column, pmod(xxhash64(key), N_BUCKETS): each entity's rows are
co-located and partition pruning serves point lookups. The manifest
entry records the path, the schema and the row lineage the write
observed, so a resumed run reads each stage back and first checks it.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# entity-hash buckets of a bucket-partitioned stage
N_BUCKETS = 64


def _bucket(key_col: str):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(N_BUCKETS))


def _observe_lineage(
    df: DataFrame, bucket_col: str | None
) -> tuple[DataFrame, Callable[[], dict]]:
    """Attach the stage's lineage counters to the frame about to be
    written, so the write job itself computes them (DataFrame.observe)
    instead of a read-back job after it. Returns the observed frame and
    a function that, after the write, gives the entry fields:
    {"rows": n}, or with bucket_col {"partition_lineage": {bucket: n}}
    over the bucket directories, listing only non-empty buckets.

    The per-bucket counts are one array of count_if aggregates parsed
    from one SQL string: a handful of py4j round trips, where N_BUCKETS
    separately built Columns cost thousands."""
    obs = Observation()
    if bucket_col is None:
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        return observed, lambda: {"rows": obs.get["rows"]}
    bucket = f"pmod(xxhash64(`{bucket_col}`), {N_BUCKETS})"
    counts = ", ".join(f"count_if({bucket} = {b})" for b in range(N_BUCKETS))
    observed = df.observe(obs, F.expr(f"array({counts})").alias("buckets"))
    return observed, lambda: {
        "partition_lineage": {str(b): n for b, n in enumerate(obs.get["buckets"]) if n}
    }


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    bucket_col: str | None = None,
) -> dict:
    """Write one stage table; returns the manifest entry used to read it
    back ({path, schema, done}) with the lineage the write job observed:
    "rows", or with bucket_col the row count per entity-hash bucket
    ("partition_lineage"). A resume validates the checkpoint against it
    (validate_stage); the pipeline reads its row counters from it."""
    path = os.path.join(out_dir, stage)
    entry: dict = {"done": True, "path": path}
    out, lineage = _observe_lineage(df, bucket_col)
    if bucket_col is not None:
        out = out.withColumn("bucket", _bucket(bucket_col))
        out.write.mode("overwrite").partitionBy("bucket").parquet(path)
        # recorded so append_stage can re-derive the partition column
        entry["bucket_col"] = bucket_col
    else:
        out.write.mode("overwrite").parquet(path)
    # schema pinned: an empty stage output writes no part files, so
    # a RESUMING run could not infer it otherwise.
    entry["schema"] = out.schema.json()
    entry.update(lineage())
    return entry


def append_stage(df: DataFrame, entry: dict) -> None:
    """Append rows to an existing stage table (incremental mode's delta
    write).

    MUTATES entry's recorded lineage (rows / partition_lineage) to the
    post-append truth, re-counted from the parquet files (partition
    directories + footers) — without it validate_stage would flag every
    healthy appended checkpoint as corrupt (stale expected counts).
    Callers persist the updated entry by rewriting the manifest, which
    the incremental path already does."""
    if entry.get("bucket_col"):
        # a bucket-partitioned stage must keep its layout on append —
        # re-derive the partition column exactly as write_stage did
        # (appending unpartitioned rows would read back bucket=null).
        df.withColumn("bucket", _bucket(entry["bucket_col"])).write.mode(
            "append"
        ).partitionBy("bucket").parquet(entry["path"])
    else:
        df.write.mode("append").parquet(entry["path"])
    back = df.sparkSession.read.parquet(entry["path"])
    if "partition_lineage" in entry:
        counts = back.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        entry["partition_lineage"] = {str(r["bucket"]): r["n"] for r in counts}
    elif "rows" in entry:
        entry["rows"] = back.count()


def read_stage(spark: SparkSession, entry: dict) -> DataFrame:
    """Read a stage table back exactly as recorded in its manifest entry."""
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
    return reader.parquet(entry["path"])


def validate_stage(spark: SparkSession, entry: dict) -> dict:
    """Resume-time checkpoint audit: re-count the stage's partitions and
    diff against the lineage recorded at write time. Returns
    {ok, expected, actual, mismatched} — a partial write (task retries
    that half-committed, an operator deleting bucket dirs or the whole
    stage directory, a copy that dropped files) shows up as mismatched
    BEFORE a resumed run silently builds on a corrupt checkpoint.
    Metadata-cost only: the per-bucket count reads directory names +
    parquet footers."""
    if not os.path.isdir(entry["path"]):
        return {
            "ok": False,
            "expected": None,
            "actual": None,
            "mismatched": {"path": {"expected": entry["path"], "actual": None}},
        }
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
