"""The pipeline's manifest counters are observed on the stage writes
(DataFrame.observe), not recounted by extra jobs. Each observed counter
must equal its explicit recount, and the whole fused pipeline must stay
inside a Spark job budget, so that a counter action added back fails
here. A run leaves nothing persisted, a
second run in the same session reuses the first run's generated
classes, and align()'s per-side tables are built in few py4j calls."""

import pytest
from pyspark.sql import functions as F

from ontoemma_spark import tableio
from ontoemma_spark.datagen import synthetic_kb, synthetic_pages
from ontoemma_spark.operators.blocking import entity_tokens
from ontoemma_spark.operators.components import connected_components
from ontoemma_spark.operators.features import entity_feature_table
from ontoemma_spark.operators.normalize import normalize_entities
from ontoemma_spark.pipeline import mention_entities, run_pipeline


def _multi_host_pages(spark, n_pages=30, kb_size=10):
    """Pages on three hosts; with kb_size < n_pages the same facts recur
    on several hosts, so multi_host_facts is not 0."""
    page_no = F.regexp_extract("url", r"(\d+)$", 1).cast("int")
    return synthetic_pages(spark, n_pages=n_pages, kb_size=kb_size).withColumn(
        "url",
        F.concat(F.lit("https://h"), (page_no % 3).cast("string"),
                 F.lit(".example/page/"), page_no.cast("string")),
    )


def test_observed_counters_equal_recounts(spark, tmp_path):
    """Every manifest metric equals the count()/distinct().count()/
    per-bucket groupBy the pipeline used to run for it, and every
    checkpoint validates against the lineage its write observed."""
    pages = _multi_host_pages(spark)
    kb, _ = synthetic_kb(spark, "KB", n_entities=10)
    m = run_pipeline(spark, pages, kb, str(tmp_path), fuse=True)
    st = m["stages"]

    def read(stage):
        return tableio.read_stage(spark, st[stage])

    triples, canon, edges, fused = (
        read("extract"), read("canonicalize"), read("materialize"), read("fuse")
    )
    n_components = canon.select("component").distinct().count()
    bucket = F.pmod(F.xxhash64(F.col("subject_id")), F.lit(64))
    partitions = {
        str(r["b"]): r["count"] for r in edges.groupBy(bucket.alias("b")).count().collect()
    }
    assert st["extract"]["metrics"] == {"pages": pages.count(), "triples": triples.count()}
    assert st["link"]["metrics"] == {
        "mentions": mention_entities(triples).count(), "links": read("link").count()
    }
    assert st["canonicalize"]["metrics"] == {
        "nodes": canon.count(), "components": n_components
    }
    assert st["materialize"]["metrics"] == {"nodes": n_components, "edges": edges.count()}
    assert st["materialize"]["partitions"] == partitions
    assert st["fuse"]["metrics"] == {
        "facts": fused.count(),
        "multi_host_facts": fused.filter(F.col("n_hosts") > 1).count(),
    }
    assert st["fuse"]["metrics"]["multi_host_facts"] > 0
    for stage, entry in st.items():
        assert tableio.validate_stage(spark, entry)["ok"], stage


def test_zero_row_stage_write_lineage(spark, tmp_path):
    """An empty stage writes rows == 0, or an empty partition_lineage,
    and still validates."""
    empty = spark.range(10).select(F.col("id").cast("string").alias("k")).filter("k = 'x'")
    flat = tableio.write_stage(empty, str(tmp_path), "flat")
    bucketed = tableio.write_stage(empty, str(tmp_path), "bucketed", bucket_col="k")
    assert flat["rows"] == 0
    assert bucketed["partition_lineage"] == {}
    assert tableio.validate_stage(spark, flat)["ok"]
    assert tableio.validate_stage(spark, bucketed)["ok"]


def test_component_count_identity_both_gate_sides(spark, broadcast_off):
    """The canonicalize stage counts components as count_if(node <=>
    component): one node per component equals its label, and the NULL
    node of a null endpoint counts once — on both sides of CC's gate."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), (None, "g"), ("h", None)],
        "s string, t string",
    )

    def both(cc):
        labelled = cc.select(F.count_if(F.col("node").eqNullSafe(F.col("component")))).first()[0]
        return labelled, cc.select("component").distinct().count()

    fast = both(connected_components(edges, src="s", dst="t"))
    with broadcast_off():
        distributed = both(connected_components(edges, src="s", dst="t"))
    assert fast[0] == fast[1] == distributed[0] == distributed[1]


# Spark jobs of the pipeline below, measured on local[4] with 4 shuffle
# partitions: 39 since align()'s model-scoring filter lost its distinct()
# and left-semi stages (each a query stage, hence a job, under adaptive
# execution); 46 before that with align()'s candidates and string-equiv
# pairs cached; 51 when every consumer recomputed them (each counter
# already observed on its stage write, one action per size gate); 87
# when each counter, each write's read-back and each gate probe ran
# jobs of its own.
PIPELINE_JOB_BUDGET = 39


def test_pipeline_job_budget(spark, tmp_path):
    pages = synthetic_pages(spark, n_pages=20)
    kb, _ = synthetic_kb(spark, "KB", n_entities=20)
    sc = spark.sparkContext
    group = "test_pipeline_job_budget"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, pages, kb, str(tmp_path / "kg"), fuse=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= PIPELINE_JOB_BUDGET, jobs


# py4j round trips to build, without running, one side's normalize →
# entity_tokens and normalize → entity_feature_table. Measured on a
# 50-entity synthetic KB in a warm local[2] session: 21 and 79 with each
# projection parsed from SQL text (36 and 95 in a fresh session); 582
# and 1,477-2,497 when every expression node was a Column of its own.
PLAN_BUILD_PY4J_BUDGET = 150


def test_align_side_tables_build_in_few_py4j_calls(spark, monkeypatch):
    import py4j.clientserver

    kb, _ = synthetic_kb(spark, "KB", n_entities=50)
    send = py4j.clientserver.ClientServerConnection.send_command
    calls = []

    def counting(self, command):
        calls.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    for build in (entity_tokens, entity_feature_table):
        calls.clear()
        build(normalize_entities(kb))
        assert len(calls) <= PLAN_BUILD_PY4J_BUDGET, (build.__name__, len(calls))


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_pipeline_releases_every_cache(spark, tmp_path, monkeypatch):
    """run_pipeline unpersists the mention table and align()'s cached
    candidates and string-equiv pairs, after a clean run and after a
    link write that fails. Compared by RDD id, so an earlier test's RDD
    that is released meanwhile does not count against the run."""
    pages = synthetic_pages(spark, n_pages=10)
    kb, _ = synthetic_kb(spark, "KB", n_entities=10)
    before = _persistent_rdds(spark)
    run_pipeline(spark, pages, kb, str(tmp_path / "clean"))
    assert _persistent_rdds(spark) - before == set()

    write_stage = tableio.write_stage

    def failing_link_write(df, out_dir, stage, *args, **kwargs):
        if stage == "link":
            df.count()  # fill align()'s caches before failing
            raise RuntimeError("injected link write failure")
        return write_stage(df, out_dir, stage, *args, **kwargs)

    monkeypatch.setattr(tableio, "write_stage", failing_link_write)
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, pages, kb, str(tmp_path / "failed"))
    assert _persistent_rdds(spark) - before == set()


# Classes compiled by the second of two identical runs of the pipeline
# below in one session, counted by Spark's CodegenMetrics, measured in a
# fresh local[4] session: the first run compiles about 185 and, with the
# session's 1000-entry generated-class cache, each repeat 0-12 (the plans
# adaptive execution picks vary a little from run to run). With Spark's
# default of 100 entries the second run recompiled about 190, nearly all
# of the first run's.
SECOND_RUN_COMPILE_BUDGET = 20


def test_warm_pipeline_reuses_generated_classes(spark, tmp_path):
    pages = synthetic_pages(spark, n_pages=20)
    kb, _ = synthetic_kb(spark, "KB", n_entities=20)
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled = []
    for run in ("first", "second"):
        before = metric.getCount()
        run_pipeline(spark, pages, kb, str(tmp_path / run), fuse=True)
        compiled.append(metric.getCount() - before)
    assert compiled[1] <= SECOND_RUN_COMPILE_BUDGET, compiled
