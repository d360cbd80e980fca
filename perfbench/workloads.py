"""The benchmark's workloads: seeded inputs, one timed job, its output
check, and a traced variant that attributes the job to named layers.

kg_build   pipeline.run_pipeline(fuse=True): synthetic HTML pages
           against a synthetic KB. Layers extract, link, canonicalize,
           materialize, fuse; inside link, align()'s steps normalize,
           block, string_equiv, featurize, score, strategy.
web_curate curation.curate_corpus over the sf0.1 documents table plus
           seed-chosen near-duplicate variants. Layers gate,
           decontaminate, signatures, lsh_pairs, resolve, pack.

The traced variants call only the program's public functions, from
these files: kg_build swaps the pipeline module's references to its
stage functions (and tableio.write_stage) for switching wrappers, and
recomposes align() and curate_corpus() from their step functions with
every step boundary forced (persist + count). Each traced rep must give
the same rows as an untraced one; the digests make that checkable.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoemma_spark import config, datagen, pipeline, tableio
from ontoemma_spark.align import AlignmentResult
from ontoemma_spark.operators import curation, dedup, fusion
from ontoemma_spark.operators.blocking import candidate_pairs_broadcast_index, entity_tokens
from ontoemma_spark.operators.features import entity_feature_table, featurize_pairs
from ontoemma_spark.operators.normalize import normalize_entities
from ontoemma_spark.operators.scoring import DEFAULT_LR_MODEL, LRModel
from ontoemma_spark.operators.strategy import apply_alignment_strategy
from ontoemma_spark.operators.string_equiv import string_equiv_alignment
from ontoemma_spark.schemas import PAGES_SCHEMA

KG_LAYERS = ["extract", "link", "canonicalize", "materialize", "fuse"]
ALIGN_LAYERS = ["normalize", "block", "string_equiv", "featurize", "score", "strategy"]
CURATE_LAYERS = ["gate", "decontaminate", "signatures", "lsh_pairs", "resolve", "pack"]

# The caps of the size-gated paths the workloads reach, as the program
# hard-codes them today: connected_components(max_collect_edges) and
# lsh_jaccard_pairs_broadcast(max_index_rows). A traced run measures
# each size and logs which side of its cap the workload ran on.
GATE_CAPS = {
    "canonicalize.cc_edges": 500_000,
    "resolve.cc_edges": 500_000,
    "lsh_pairs.postings": 5_000_000,
}

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _f1(predicted: set, gold: set) -> float:
    if not predicted and not gold:
        return 1.0
    return 2 * len(predicted & gold) / (len(predicted) + len(gold))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _force(df: DataFrame, keep: list) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    keep.append(df)
    return df, df.count()


@contextmanager
def _patched(targets: list[tuple[object, str, object]]):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, value in targets:
            setattr(obj, name, value)
        yield
    finally:
        for obj, name, value in saved:
            setattr(obj, name, value)


class KgBuild:
    """Pages are drawn by the seed from a million page indices; page i
    states closed-form triples about concepts i and i+3 (mod kb_size),
    so mentions repeat across pages and the extracted triples have a
    closed-form gold. The pages carry HTML only, so extract parses it."""

    name = "kg_build"
    min_f1 = 1.0
    # the first rep of a fresh JVM costs 2-3x a warm one (class loading,
    # codegen, Python worker start-up); at this size the second is within
    # a few percent of the third
    warmup_reps = 1
    min_timed_reps = 1
    SIZES = {"full": (200, 50), "tiny": (40, 20)}  # (pages, KB entities)

    def __init__(self, spark: SparkSession, seed: int, scale: str, workdir: str):
        self.spark, self.workdir = spark, workdir
        n_pages, self.kb_size = self.SIZES[scale]
        idx = sorted(random.Random(seed).sample(range(1_000_000), n_pages))
        epoch = datetime(2026, 1, 1, tzinfo=timezone.utc)
        rows = [
            (self._url(i), epoch + timedelta(seconds=i),
             datagen.page_html(i, self.kb_size), None, "en")
            for i in idx
        ]
        self.input_bytes = sum(len(r[2]) for r in rows)
        self.n_rows = n_pages
        spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(os.path.join(workdir, "pages"))
        kb, _ = datagen.synthetic_kb(spark, "KB", self.kb_size)
        kb.write.parquet(os.path.join(workdir, "kb"))
        self.pages = spark.read.parquet(os.path.join(workdir, "pages"))
        self.kb = spark.read.parquet(os.path.join(workdir, "kb"))
        self.gold = {
            (self._url(i), s, p, o)
            for i in idx
            for s, p, o in datagen.page_sentences(i, self.kb_size)
        }
        self._reps = 0

    @staticmethod
    def _url(i: int) -> str:
        return f"https://example.org/page/{i}"

    def run(self) -> dict:
        self._reps += 1
        out_dir = os.path.join(self.workdir, f"kg_{self._reps}")
        manifest = pipeline.run_pipeline(self.spark, self.pages, self.kb, out_dir, fuse=True)
        return {"out_dir": out_dir, "manifest": manifest}

    def check(self, result: dict) -> dict:
        """triple F1 against the closed-form gold, plus digests of the
        link and fuse tables (equal on every rep of one input)."""
        m, spark = result["manifest"], self.spark
        triples = tableio.read_stage(spark, m["stages"]["extract"])
        got = {tuple(r) for r in triples.select("url", "subj", "pred", "obj").collect()}
        links = tableio.read_stage(spark, m["stages"]["link"]).select("s_id", "t_id", "score")
        fused = tableio.read_stage(spark, m["stages"]["fuse"]).drop("bucket")
        out = {
            "f1": _f1(got, self.gold),
            "digest": _digest(links.collect()) + ":" + _digest(fused.collect()),
            "ckpt_bytes": _dir_bytes(result["out_dir"]),
        }
        shutil.rmtree(result["out_dir"])
        return out

    # ---- traced -----------------------------------------------------------
    def run_traced(self, tracer) -> tuple[dict, dict]:
        keep: list = []
        probe: dict = {}

        def switching(layer, fn):
            def wrapper(*args, **kwargs):
                tracer.switch(layer)
                return fn(*args, **kwargs)
            return wrapper

        def write_stage(df, out_dir, stage, *args, **kwargs):
            tracer.switch(stage)
            return orig_write_stage(df, out_dir, stage, *args, **kwargs)

        def align(s_entities, t_entities, **kwargs):
            tracer.switch("link")
            return traced_align(tracer, s_entities, t_entities, keep, probe, **kwargs)

        orig_write_stage = tableio.write_stage
        patches = [
            (pipeline, "extract_triples", switching("extract", pipeline.extract_triples)),
            (pipeline, "align", align),
            (pipeline, "connected_components",
             switching("canonicalize", pipeline.connected_components)),
            (pipeline, "canonical_edge_rewrite",
             switching("materialize", pipeline.canonical_edge_rewrite)),
            (fusion, "fuse_triples", switching("fuse", fusion.fuse_triples)),
            (tableio, "write_stage", write_stage),
        ]
        tracer.enter("all")
        try:
            with _patched(patches):
                result = self.run()
            tracer.close_all()
            # outside every span: not part of any layer's time
            equiv_sources = probe["equiv"].select("s_id").distinct().count()
        finally:
            tracer.close_all()
            for df in keep:
                df.unpersist()
        stages = result["manifest"]["stages"]
        rows = {
            "extract": stages["extract"]["metrics"]["triples"],
            "link": stages["link"]["metrics"]["links"],
            "canonicalize": stages["canonicalize"]["metrics"]["nodes"],
            "materialize": stages["materialize"]["metrics"]["edges"],
            "fuse": stages["fuse"]["metrics"]["facts"],
            **probe.pop("rows"),
        }
        n_links = stages["link"]["metrics"]["links"]
        extra = {
            "rows": rows,
            "ratios": {
                "block.useful_ratio": n_links / max(rows["block"], 1),
                "string_equiv.hit_ratio": equiv_sources / max(probe["sources"], 1),
            },
            # CC here runs on the link graph; blocking uses the
            # broadcast index (align's default flag, no size gate)
            "gates": {"canonicalize.cc_edges": n_links},
        }
        return result, extra


def traced_align(tracer, s_entities, t_entities, keep, probe,
                 model=None, strategy="best", threshold=config.SIM_SCORE_THRESHOLD,
                 top_k=config.KEEP_TOP_K_CANDIDATES):
    """align() with its default LR path, step by step, each step forced
    inside its own span. Mirrors ontoemma_spark.align.align."""
    model = model or DEFAULT_LR_MODEL
    if type(model) is not LRModel:
        raise NotImplementedError("the traced link stage recomposes the LR path only")
    rows = probe["rows"] = {}
    with tracer.span("normalize"):
        s, n_s = _force(normalize_entities(s_entities), keep)
        t, n_t = _force(normalize_entities(t_entities), keep)
        rows["normalize"] = n_s + n_t
    with tracer.span("block"):
        s_count, t_count = s.count(), t.count()
        cands, rows["block"] = _force(
            candidate_pairs_broadcast_index(
                entity_tokens(s), entity_tokens(t), s_count, t_count, top_k=top_k
            ),
            keep,
        )
    with tracer.span("string_equiv"):
        equiv, rows["string_equiv"] = _force(
            string_equiv_alignment(s, t, candidates=cands), keep
        )
        s_named = s.filter(F.col("canonical_name") != F.col("research_entity_id")).select(
            F.col("research_entity_id").alias("s_id"))
        t_named = t.filter(F.col("canonical_name") != F.col("research_entity_id")).select(
            F.col("research_entity_id").alias("t_id"))
        to_score, _ = _force(
            cands.join(equiv.select("s_id").distinct(), "s_id", "left_anti")
            .join(equiv.select("t_id").distinct(), "t_id", "left_anti")
            .join(s_named, "s_id", "left_semi")
            .join(t_named, "t_id", "left_semi"),
            keep,
        )
    with tracer.span("featurize"):
        featurized, rows["featurize"] = _force(
            featurize_pairs(
                to_score.select("s_id", "t_id"),
                entity_feature_table(s),
                entity_feature_table(t),
            ),
            keep,
        )
    with tracer.span("score"):
        model_scores = model.score_pairs(featurized).select("s_id", "t_id", "score")
        scores, rows["score"] = _force(
            equiv.select("s_id", "t_id", "score").unionByName(model_scores), keep
        )
    with tracer.span("strategy"):
        alignment, rows["strategy"] = _force(
            apply_alignment_strategy(scores, strategy, threshold), keep
        )
    probe.update(sources=s_count, equiv=equiv)
    return AlignmentResult(cands, equiv, scores, alignment)


class WebCurate:
    """The first 2000 docs of the sf0.1 documents table plus seed-chosen
    near-duplicates: a copy of a long document with one of its own
    words appended. The gold survivors are those of the base table
    alone, computed by the program at set-up: every variant must be
    resolved away and nothing else may change."""

    name = "web_curate"
    # MinHash-LSH may miss a pair whose bigram Jaccard is above 0.96
    min_f1 = 0.99
    # the gold run on the base table, at set-up, is the warm-up rep. A
    # rep is short, so a steal burst can cover one: take the median of 3.
    warmup_reps = 0
    min_timed_reps = 3
    SIZES = {"full": (2000, 400), "tiny": (300, 30)}  # (base docs, variants)
    VARIANT_ID0 = 10_000_000
    PARAMS = dict(max_tokens=256, shingle_w=2, num_hashes=4, bands=2,
                  min_jaccard=0.5, n_pack_groups=8)

    def __init__(self, spark: SparkSession, seed: int, scale: str, workdir: str):
        self.spark = spark
        n_base, n_var = self.SIZES[scale]
        base = pq.read_table(DOCUMENTS).to_pandas().sort_values("doc_id").head(n_base)
        rng = random.Random(seed)
        long_docs = base[base["text"].str.split().str.len() >= 30]
        picked = long_docs.iloc[sorted(rng.sample(range(len(long_docs)), n_var))].copy()
        picked["text"] = [t + " " + rng.choice(t.split()) for t in picked["text"]]
        picked["n_chars"] = picked["text"].str.len()
        picked["doc_id"] = self.VARIANT_ID0 + picked["doc_id"]
        for name, pdf in (("base", base), ("docs", pd.concat([base, picked]))):
            spark.createDataFrame(pdf).write.parquet(os.path.join(workdir, name))
        self.base = spark.read.parquet(os.path.join(workdir, "base"))
        self.docs = spark.read.parquet(os.path.join(workdir, "docs"))
        self.n_rows = n_base + n_var
        self.input_bytes = int(base["text"].str.len().sum() + picked["text"].str.len().sum())
        self.bench = self.base.filter(F.col("doc_id") % 50 == 0)
        self.weights = self.base.select("source").distinct().select(
            "source",
            F.when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 2 == 0, 0.25)
            .otherwise(0.9).alias("weight"),
        )
        self.gold = {r["doc_id"] for r in self._curate(self.base)}

    def _curate(self, docs: DataFrame) -> list:
        out = curation.curate_corpus(
            docs, self.bench, self.weights, pack_groups_by_mod=True, **self.PARAMS
        ).collect()
        self.spark.catalog.clearCache()  # curate_corpus leaves `clean` cached
        return out

    def run(self) -> dict:
        return {"rows": self._curate(self.docs)}

    def check(self, result: dict) -> dict:
        rows = result["rows"]
        return {
            "f1": _f1({r["doc_id"] for r in rows}, self.gold),
            "digest": _digest(rows),
            "ckpt_bytes": 0,
        }

    # ---- traced -----------------------------------------------------------
    def run_traced(self, tracer) -> tuple[dict, dict]:
        """curate_corpus (pre_dedup_paragraphs off, groups by doc_id mod
        n), step by step. Mirrors ontoemma_spark.operators.curation."""
        p, keep, rows = self.PARAMS, [], {}
        tracer.enter("all")
        try:
            with tracer.span("gate"):
                gated, rows["gate"] = _force(
                    curation.gate_quality_repetition(
                        dedup.spread(self.docs), w=p["shingle_w"]
                    ),
                    keep,
                )
            with tracer.span("decontaminate"):
                cont = dedup.contamination_hits(gated, self.bench, w=5)
                clean, rows["decontaminate"] = _force(
                    gated.join(cont.filter("NOT contaminated").select("doc_id"), "doc_id"),
                    keep,
                )
            with tracer.span("signatures"):
                sh, sig = dedup.cached_shingle_signatures(
                    clean, w=p["shingle_w"], num_hashes=p["num_hashes"]
                )
                keep += [sh, sig]
                sh.count()
                rows["signatures"] = sig.count()
            with tracer.span("lsh_pairs"):
                pairs, rows["lsh_pairs"] = _force(
                    dedup.lsh_jaccard_pairs_broadcast(
                        sh, sig, num_hashes=p["num_hashes"], bands=p["bands"],
                        min_jaccard=p["min_jaccard"],
                    ),
                    keep,
                )
            with tracer.span("resolve"):
                resolved, rows["resolve"] = _force(
                    dedup.resolve_duplicate_clusters(clean, pairs), keep
                )
            with tracer.span("pack"):
                unique_docs = clean.join(
                    resolved.filter("is_canonical").select("doc_id"), "doc_id"
                )
                redacted = curation.redact_pii(
                    curation.mixture_sample(unique_docs, self.weights)
                ).select("doc_id", "text")
                out = curation.pack_sequences(
                    redacted.withColumn("_grp", F.col("doc_id") % p["n_pack_groups"]),
                    max_tokens=p["max_tokens"], group_col="_grp",
                ).collect()
                rows["pack"] = len(out)
            tracer.close_all()
            # outside every span: the sizes that decide the gated paths
            n_docs = clean.count()
            dups = resolved.filter(~F.col("is_canonical")).count()
            postings = sh.select(F.sum(F.size("sh"))).first()[0] or 0
        finally:
            tracer.close_all()
            self.spark.catalog.clearCache()
        extra = {
            "rows": rows,
            "ratios": {"resolve.dup_ratio": dups / max(n_docs, 1)},
            "gates": {"resolve.cc_edges": rows["lsh_pairs"], "lsh_pairs.postings": postings},
        }
        return {"rows": out}, extra


WORKLOADS = {w.name: w for w in (KgBuild, WebCurate)}
