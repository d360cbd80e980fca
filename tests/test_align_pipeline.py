"""End-to-end: align() on overlapping synthetic KBs (P/R vs closed-form
gold ≥ the reference's micro-fixture thresholds, tests/test_ontoemma.py:69-71)
and the 4-stage KG pipeline incl. resume-from-manifest."""

import pytest
from pyspark.sql import functions as F

from ontoemma_spark.align import align
from ontoemma_spark.datagen import gold_alignment, synthetic_kb, synthetic_pages
from ontoemma_spark.operators.evaluate import precision_recall_f1
from ontoemma_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def aligned(spark):
    s_ents, _ = synthetic_kb(spark, "SRC", n_entities=60, id_offset=0)
    t_ents, _ = synthetic_kb(spark, "TGT", n_entities=50, id_offset=20)
    gold = gold_alignment(spark, "SRC", "TGT", s_count=60, t_offset=20, t_count=50)
    result = align(s_ents, t_ents)
    yield result, gold
    result.release()


def test_align_meets_reference_thresholds(spark, aligned):
    """Reference contract: P ≥ 0.8, R ≥ 0.6, F1 ≥ 0.7 (test_ontoemma.py:69-71)."""
    result, gold = aligned
    row = precision_recall_f1(result.alignment, gold).collect()[0]
    assert row["precision"] >= 0.8, row
    assert row["recall"] >= 0.6, row
    assert row["f1"] >= 0.7, row


def test_string_equiv_catches_shared_names(spark, aligned):
    result, gold = aligned
    equiv = result.string_equiv
    row = precision_recall_f1(equiv, gold).collect()[0]
    assert row["precision"] == 1.0  # exact-alias matches are always right here
    assert row["recall"] >= 0.9


def test_alignment_is_one_per_source(spark, aligned):
    result, _ = aligned
    dup = result.alignment.groupBy("s_id").count().filter(F.col("count") > 1).count()
    assert dup == 0  # BEST strategy


def test_pipeline_runs_and_resumes(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("kgpipe"))
    pages = synthetic_pages(spark, n_pages=30)
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    manifest = run_pipeline(spark, pages, kb, out_dir)
    assert set(manifest["stages"]) == {"extract", "link", "canonicalize", "materialize"}
    assert manifest["stages"]["extract"]["metrics"]["pages"] == 30
    assert manifest["stages"]["extract"]["metrics"]["triples"] > 0
    assert manifest["stages"]["materialize"]["metrics"]["edges"] > 0

    # resume: second run must not recompute (manifest timestamps equal)
    manifest2 = run_pipeline(spark, pages, kb, out_dir)
    assert manifest2 == manifest

    # the materialized edge table is bucketed by subject hash
    edges = spark.read.parquet(f"{out_dir}/materialize")
    assert "bucket" in edges.columns
    assert edges.count() == manifest["stages"]["materialize"]["metrics"]["edges"]


def test_pipeline_incremental_processes_only_new_pages(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("kgpipe_inc"))
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    first = synthetic_pages(spark, n_pages=20)
    m1 = run_pipeline(spark, first, kb, out_dir)
    assert m1["stages"]["extract"]["metrics"]["pages"] == 20
    edges_1 = m1["stages"]["materialize"]["metrics"]["edges"]

    # grown input: 10 new pages appended (same first 20, deterministic)
    grown = synthetic_pages(spark, n_pages=30)
    m2 = run_pipeline(spark, grown, kb, out_dir, incremental=True)
    assert m2["stages"]["extract"]["metrics"]["pages"] == 30
    assert m2["stages"]["materialize"]["metrics"]["edges"] > edges_1

    # ground truth: a fresh full run over the 30 pages must agree
    fresh_dir = str(tmp_path_factory.mktemp("kgpipe_fresh"))
    m3 = run_pipeline(spark, grown, kb, fresh_dir)
    assert (
        m2["stages"]["materialize"]["metrics"]
        == m3["stages"]["materialize"]["metrics"]
    )
    inc_edges = spark.read.parquet(f"{out_dir}/materialize")
    fresh_edges = spark.read.parquet(f"{fresh_dir}/materialize")
    assert sorted(map(tuple, inc_edges.drop("bucket").collect())) == sorted(
        map(tuple, fresh_edges.drop("bucket").collect())
    )

    # idempotent: re-running incrementally with no new pages is a no-op
    m4 = run_pipeline(spark, grown, kb, out_dir, incremental=True)
    assert m4 == m2


def test_pipeline_fuse_stage_rollup_and_resume(spark, tmp_path_factory):
    """fuse=True appends stage 5: one row per canonical (s, r, o) with
    support >= the page fan-in, and a noisy-or belief in (0, 1]. The
    stage resumes like every other (second run recomputes nothing), and
    a run WITHOUT fuse on the same dir leaves the stage untouched."""
    out_dir = str(tmp_path_factory.mktemp("kgpipe_fuse"))
    pages = synthetic_pages(spark, n_pages=30)
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    manifest = run_pipeline(spark, pages, kb, out_dir, fuse=True)
    assert "fuse" in manifest["stages"]
    m = manifest["stages"]["fuse"]["metrics"]
    assert m["facts"] > 0
    assert m["facts"] <= manifest["stages"]["materialize"]["metrics"]["edges"]
    fused = spark.read.parquet(f"{out_dir}/fuse")
    assert {"subject_id", "relation_type", "object_id",
            "support", "n_hosts", "belief"} <= set(fused.columns)
    row = fused.filter(F.col("support") < 1).count()
    assert row == 0
    assert fused.filter((F.col("belief") <= 0) | (F.col("belief") > 1)).count() == 0
    # rollup really aggregates: no duplicate (s, r, o)
    assert (
        fused.groupBy("subject_id", "relation_type", "object_id")
        .count().filter(F.col("count") > 1).count()
    ) == 0
    # resume + fuse-off stability
    manifest2 = run_pipeline(spark, pages, kb, out_dir, fuse=True)
    assert manifest2 == manifest
    manifest3 = run_pipeline(spark, pages, kb, out_dir)
    assert manifest3 == manifest


def test_pipeline_incremental_recomputes_fuse(spark, tmp_path_factory):
    """Incremental reruns must invalidate the fuse stage too — before
    the fix stale fused facts (pre-delta support/belief) were silently
    kept as current."""
    out_dir = str(tmp_path_factory.mktemp("kgpipe_inc_fuse"))
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    m1 = run_pipeline(spark, synthetic_pages(spark, n_pages=20), kb,
                      out_dir, fuse=True)
    facts_1 = m1["stages"]["fuse"]["metrics"]["facts"]
    m2 = run_pipeline(spark, synthetic_pages(spark, n_pages=30), kb,
                      out_dir, incremental=True, fuse=True)
    facts_2 = m2["stages"]["fuse"]["metrics"]["facts"]
    assert facts_2 > facts_1
    # fresh full run agrees
    fresh = str(tmp_path_factory.mktemp("kgpipe_inc_fuse_fresh"))
    m3 = run_pipeline(spark, synthetic_pages(spark, n_pages=30), kb,
                      fresh, fuse=True)
    assert m3["stages"]["fuse"]["metrics"] == m2["stages"]["fuse"]["metrics"]


def test_pipeline_resume_survives_missing_canonicalize_metrics(
    spark, tmp_path_factory
):
    """ADVICE r5: a crash between canonicalize's checkpoint (done=True)
    and its metrics write leaves metrics={} on the manifest; the resumed
    run must recompute the component count instead of KeyError-ing at
    materialize, and must converge to the same metrics as a clean run."""
    import json
    import os
    import shutil

    out_dir = str(tmp_path_factory.mktemp("kgpipe_crashwin"))
    pages = synthetic_pages(spark, n_pages=30)
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    clean = run_pipeline(spark, pages, kb, out_dir)

    # simulate the crash window: canonicalize done, metrics lost,
    # materialize (and its outputs) not yet written
    mpath = os.path.join(out_dir, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["stages"]["canonicalize"]["metrics"] = {}
    del manifest["stages"]["materialize"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(os.path.join(out_dir, "materialize"))

    resumed = run_pipeline(spark, pages, kb, out_dir)
    assert (
        resumed["stages"]["materialize"]["metrics"]
        == clean["stages"]["materialize"]["metrics"]
    )
    assert (
        resumed["stages"]["canonicalize"]["metrics"]["components"]
        == clean["stages"]["canonicalize"]["metrics"]["components"]
    )


def test_pipeline_resume_reruns_stage_with_lost_bucket(spark, tmp_path_factory):
    """A completed materialize checkpoint that lost one bucket directory
    fails validation on resume: the stage reruns, and the KG equals the
    clean run's."""
    import os
    import shutil

    out_dir = str(tmp_path_factory.mktemp("kgpipe_lostbucket"))
    pages = synthetic_pages(spark, n_pages=30)
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    clean = run_pipeline(spark, pages, kb, out_dir)
    edges_path = os.path.join(out_dir, "materialize")
    clean_edges = sorted(map(tuple, spark.read.parquet(edges_path).collect()))

    bucket = sorted(clean["stages"]["materialize"]["partition_lineage"])[0]
    shutil.rmtree(os.path.join(edges_path, f"bucket={bucket}"))
    assert len(spark.read.parquet(edges_path).collect()) < len(clean_edges)

    resumed = run_pipeline(spark, pages, kb, out_dir)
    assert resumed == clean
    assert sorted(map(tuple, spark.read.parquet(edges_path).collect())) == clean_edges


def test_pipeline_resume_reruns_stage_with_lost_directory(spark, tmp_path_factory):
    """A completed link checkpoint whose whole directory is gone fails
    validation on resume instead of raising PATH_NOT_FOUND: link and
    every stage after it rerun, and the KG equals the clean run's."""
    import os
    import shutil

    out_dir = str(tmp_path_factory.mktemp("kgpipe_lostdir"))
    pages = synthetic_pages(spark, n_pages=30)
    kb, _ = synthetic_kb(spark, "KB", n_entities=40)
    clean = run_pipeline(spark, pages, kb, out_dir)
    edges_path = os.path.join(out_dir, "materialize")
    clean_edges = sorted(map(tuple, spark.read.parquet(edges_path).collect()))

    shutil.rmtree(os.path.join(out_dir, "link"))

    resumed = run_pipeline(spark, pages, kb, out_dir)
    assert resumed == clean
    assert sorted(map(tuple, spark.read.parquet(edges_path).collect())) == clean_edges


def test_manifest_write_crash_keeps_previous_manifest(tmp_path, monkeypatch):
    """A crash inside json.dump must not leave a half-written manifest:
    read_manifest still returns the previous one, so a resume redoes the
    interrupted stage instead of failing to parse."""
    import json

    from ontoemma_spark import pipeline

    out = str(tmp_path)
    before = {"stages": {"extract": {"metrics": {"triples": 3}}}}
    pipeline._write_manifest(out, before)

    def half_dump(obj, f, **kw):
        text = json.dumps(obj, **kw)
        f.write(text[: len(text) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(pipeline.json, "dump", half_dump)
    after = {"stages": {**before["stages"], "link": {"metrics": {"links": 5}}}}
    with pytest.raises(OSError, match="disk full"):
        pipeline._write_manifest(out, after)
    monkeypatch.undo()
    assert pipeline.read_manifest(out) == before
