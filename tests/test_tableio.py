"""Writer seam (tableio): the pipeline's checkpoint format is a physical
choice — parquet vs bucketed tables vs Iceberg — and switching it must
not change the KG. The bucketed_table format must deliver the layout's
whole point: joins on the bucket key with NO Exchange in the plan
(storage-partitioned join analog through the builtin catalog)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from ontoemma_spark import datagen, tableio
from ontoemma_spark.pipeline import run_pipeline


def _edge_set(df):
    return {
        (r["subject_id"], r["relation_type"], r["object_id"])
        for r in df.select("subject_id", "relation_type", "object_id").collect()
    }


def test_bucketed_table_format_same_kg_and_colocated_join(spark, broadcast_off):
    pages = datagen.synthetic_pages(spark, n_pages=60)
    kb, _ = datagen.synthetic_kb(spark, "KB", n_entities=40)

    out_pq = tempfile.mkdtemp(prefix="tio_pq_")
    out_bt = tempfile.mkdtemp(prefix="tio_bt_")
    man_pq = run_pipeline(spark, pages, kb, out_dir=out_pq)
    man_bt = run_pipeline(spark, pages, kb, out_dir=out_bt,
                          table_format="bucketed_table")
    try:
        # every stage entry records its format + identical row metrics
        for stage, entry in man_bt["stages"].items():
            assert entry["format"] == "bucketed_table"
            assert entry["metrics"] == man_pq["stages"][stage]["metrics"]

        edges_bt = tableio.read_stage(spark, man_bt["stages"]["materialize"])
        edges_pq = tableio.read_stage(spark, man_pq["stages"]["materialize"])
        assert _edge_set(edges_bt) == _edge_set(edges_pq)

        # co-located self-join on the bucket key: the bucketed scan
        # satisfies the join's required distribution → no Exchange.
        with broadcast_off():
            e = spark.table(man_bt["stages"]["materialize"]["table"])
            joined = e.alias("a").join(
                e.alias("b"), "subject_id"
            ).groupBy("subject_id").count()
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan.split("SortMergeJoin")[1], plan
    finally:
        for stage in man_bt["stages"].values():
            if "table" in stage:
                spark.sql(f"DROP TABLE IF EXISTS {stage['table']}")


def test_bucketed_table_resume_reads_tables_back(spark):
    pages = datagen.synthetic_pages(spark, n_pages=40)
    kb, _ = datagen.synthetic_kb(spark, "KB", n_entities=30)
    out = tempfile.mkdtemp(prefix="tio_res_")
    man1 = run_pipeline(spark, pages, kb, out_dir=out,
                        table_format="bucketed_table")
    try:
        # second run resumes: all stages read back from tables, nothing
        # recomputed, manifest identical
        man2 = run_pipeline(spark, pages, kb, out_dir=out,
                            table_format="bucketed_table")
        assert man1 == man2
    finally:
        for stage in man1["stages"].values():
            if "table" in stage:
                spark.sql(f"DROP TABLE IF EXISTS {stage['table']}")


def test_iceberg_raises_clear_error_without_catalog(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("subject_id"))
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        tableio.write_stage(df, "/tmp/tio_ice", "materialize",
                            fmt="iceberg", bucket_col="subject_id")


def test_unknown_format_rejected():
    with pytest.raises(ValueError, match="unknown table format"):
        tableio.resolve_format("delta")


def test_bucketed_table_incremental_append(spark):
    """Incremental mode with table_format=bucketed_table: the delta
    extract appends via insertInto, downstream recomputes, and the KG
    equals a fresh full run — the same contract the parquet path has."""
    pages20 = datagen.synthetic_pages(spark, n_pages=20)
    pages30 = datagen.synthetic_pages(spark, n_pages=30)
    kb, _ = datagen.synthetic_kb(spark, "KB", n_entities=30)

    inc_dir = tempfile.mkdtemp(prefix="tio_inc_")
    fresh_dir = tempfile.mkdtemp(prefix="tio_incf_")
    m1 = run_pipeline(spark, pages20, kb, inc_dir, table_format="bucketed_table")
    m2 = run_pipeline(spark, pages30, kb, inc_dir, incremental=True,
                      table_format="bucketed_table")
    m3 = run_pipeline(spark, pages30, kb, fresh_dir, table_format="bucketed_table")
    try:
        assert m2["stages"]["extract"]["metrics"]["pages"] == 30
        assert (m2["stages"]["materialize"]["metrics"]
                == m3["stages"]["materialize"]["metrics"])
        inc = tableio.read_stage(spark, m2["stages"]["materialize"])
        fresh = tableio.read_stage(spark, m3["stages"]["materialize"])
        assert _edge_set(inc) == _edge_set(fresh)
    finally:
        for man in (m2, m3):
            for stage in man["stages"].values():
                if "table" in stage:
                    spark.sql(f"DROP TABLE IF EXISTS {stage['table']}")


def test_partition_lineage_recorded_and_validated(spark, tmp_path):
    """write_stage records per-bucket row counts; validate_stage passes
    on an intact checkpoint and pinpoints a tampered bucket."""
    import shutil
    import glob
    import os

    from pyspark.sql import functions as F

    from ontoemma_spark import tableio

    df = spark.range(200).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("subject_id"),
        (F.col("id") % 9).alias("v"),
    )
    out = str(tmp_path / "stage_out")
    entry = tableio.write_stage(df, out, "edges", bucket_col="subject_id", n_buckets=8)
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


def test_append_stage_updates_lineage_for_validate(spark, tmp_path):
    """append_stage must refresh the manifest entry's recorded rows /
    partition_lineage — before the fix validate_stage flagged every
    healthy incrementally-appended checkpoint as corrupt."""
    from ontoemma_spark.tableio import append_stage, validate_stage, write_stage

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    entry = write_stage(df, str(tmp_path), "t", fmt="parquet")
    delta = spark.createDataFrame([(3, "c")], "k bigint, v string")
    append_stage(delta, entry)
    assert entry["rows"] == 3
    assert validate_stage(spark, entry)["ok"] is True

    bentry = write_stage(df, str(tmp_path), "tb", fmt="parquet", bucket_col="k")
    append_stage(delta, bentry)
    assert sum(int(v) for v in bentry["partition_lineage"].values()) == 3
    assert validate_stage(spark, bentry)["ok"] is True
