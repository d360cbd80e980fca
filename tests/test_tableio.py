"""Checkpoint seam (tableio): each stage's write records the row lineage
it observed, validate_stage pinpoints a checkpoint that no longer
matches it, and append_stage keeps the lineage current."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from ontoemma_spark import tableio


def test_partition_lineage_recorded_and_validated(spark, tmp_path):
    """write_stage records per-bucket row counts; validate_stage passes
    on an intact checkpoint and pinpoints a tampered bucket, a deleted
    part file and a deleted stage directory."""
    df = spark.range(200).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("subject_id"),
        (F.col("id") % 9).alias("v"),
    )
    out = str(tmp_path / "stage_out")
    entry = tableio.write_stage(df, out, "edges", bucket_col="subject_id")
    assert "partition_lineage" in entry
    assert sum(entry["partition_lineage"].values()) == 200
    rep = tableio.validate_stage(spark, entry)
    assert rep["ok"] and rep["mismatched"] == {}

    # tamper: drop one bucket directory entirely
    victim = sorted(entry["partition_lineage"])[0]
    shutil.rmtree(os.path.join(entry["path"], f"bucket={victim}"))
    rep2 = tableio.validate_stage(spark, entry)
    assert not rep2["ok"]
    assert victim in rep2["mismatched"]
    assert rep2["mismatched"][victim]["actual"] == 0

    # unbucketed stages record a total-row lineage
    entry2 = tableio.write_stage(df, out, "flat")
    assert entry2["rows"] == 200
    assert tableio.validate_stage(spark, entry2)["ok"]
    # tamper: delete one part file
    parts = glob.glob(os.path.join(entry2["path"], "part-*"))
    os.remove(parts[0])
    assert not tableio.validate_stage(spark, entry2)["ok"]

    # the whole stage directory gone: reported, not raised
    shutil.rmtree(entry2["path"])
    assert not tableio.validate_stage(spark, entry2)["ok"]


def test_append_stage_updates_lineage_for_validate(spark, tmp_path):
    """append_stage must refresh the manifest entry's recorded rows /
    partition_lineage — before the fix validate_stage flagged every
    healthy incrementally-appended checkpoint as corrupt."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    entry = tableio.write_stage(df, str(tmp_path), "t")
    delta = spark.createDataFrame([(3, "c")], "k bigint, v string")
    tableio.append_stage(delta, entry)
    assert entry["rows"] == 3
    assert tableio.validate_stage(spark, entry)["ok"] is True

    bentry = tableio.write_stage(df, str(tmp_path), "tb", bucket_col="k")
    tableio.append_stage(delta, bentry)
    assert sum(int(v) for v in bentry["partition_lineage"].values()) == 3
    assert tableio.validate_stage(spark, bentry)["ok"] is True
