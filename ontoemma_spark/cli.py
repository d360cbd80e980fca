"""run_ontoemma-compatible command line (reference run_ontoemma.py:12-100).

Same surface a reference user drives today:

    python scripts/run_ontoemma.py \
        -s source.json -t target.obo \
        -o alignment.tsv [-i gold.tsv] \
        [-p lr|nn|none] [-m model.json] [-a best|all|modh|modh-exact]

Formats are chosen by extension, like the reference's load_kb/
load_alignment dispatch (OntoEmma.py:72-106):

  KBs        .json (S1) / .obo (S4) / .owl|.rdf|.xml (S5) / .nt|.ttl (S7)
             / a parquet path (directory or .parquet)
  alignments .tsv (S9/S12) / .rdf|.owl|.xml (S11/S13) / .jsonl (S10)

Model types (-p): `lr` = engineered-feature logistic regression
(default weights, or -m json with {"weights": {...}, "bias": b});
`nn` = trained MLP pair scorer (pinned default weights, or -m json);
`none` = string-equivalence + raw candidate scores only (reference
behavior when no model is given).

When -i gold is provided the produced alignment is evaluated and
precision/recall/F1 are printed (compare_alignment_to_gold,
OntoEmma.py:904-932).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, SparkSession

from ontoemma_spark import config


def load_kb_any(spark: SparkSession, path: str) -> DataFrame:
    """Entities DataFrame from any supported KB format (by extension)."""
    from ontoemma_spark.sources import dbpedia, kb_json, obo, owl

    low = path.lower()
    if low.endswith(".json"):
        ents, _ = kb_json.load_kb_json(spark, path)
        return ents
    if low.endswith(".obo"):
        ents, _ = obo.load_obo(spark, path)
        return ents
    if low.endswith((".owl", ".rdf", ".xml")):
        ents, _ = owl.load_owl(spark, path)
        return ents
    if low.endswith((".nt", ".ttl")):
        return dbpedia.load_dbpedia_ntriples(spark, path)
    if low.endswith(".parquet") or os.path.isdir(path):
        return spark.read.parquet(path)
    raise ValueError(f"unrecognized KB format: {path}")


def load_alignment_any(spark: SparkSession, path: str) -> DataFrame:
    """(s_id, t_id) pairs from TSV / RDF / jsonlines gold files."""
    from ontoemma_spark.sources import alignment as asrc
    from ontoemma_spark.sources import owl

    low = path.lower()
    if low.endswith(".tsv"):
        # gold TSVs carry 0/1 labels (reference format) — only label==1
        # pairs are gold positives
        return asrc.positive_pairs(asrc.load_alignment_tsv(spark, path))
    if low.endswith((".rdf", ".owl", ".xml")):
        return owl.load_alignment_rdf(spark, path).select(
            "s_id", "t_id"
        )
    if low.endswith((".jsonl", ".json")):
        return asrc.load_alignment_jsonlines(spark, path).select("s_id", "t_id")
    raise ValueError(f"unrecognized alignment format: {path}")


def write_alignment_any(alignment: DataFrame, path: str) -> None:
    from ontoemma_spark.sources import alignment as asrc
    from ontoemma_spark.sources import owl

    low = path.lower()
    if low.endswith(".tsv"):
        asrc.write_alignment_tsv(alignment, path)
    elif low.endswith((".rdf", ".owl", ".xml")):
        owl.write_alignment_rdf(alignment, path)
    else:
        raise ValueError(f"unrecognized output alignment format: {path}")


def load_model(model_type: str, model_path: str | None,
               embeddings_path: str | None = None):
    """Model object per -p/-m (reference: -m model dir + -p type).
    embeddings_path: pretrained GloVe-format word table for the siamese
    scorer (the reference's weights300.txt.gz) — required for sensible
    scores from a reference-TRAINED state_dict; ignored for lr/nn."""
    from ontoemma_spark.operators.nn_weights import default_nn_model
    from ontoemma_spark.operators.scoring import DEFAULT_LR_MODEL, LRModel
    from ontoemma_spark.operators.scoring_nn import MLPModel

    if model_type == "none":
        return None
    blob = None
    archive = None
    if model_path:
        if model_type == "siamese" and model_path.endswith(
            (".npz", ".json.gz", ".tar.gz", ".tgz", ".tar")
        ):
            archive = model_path  # checkpoint file → load_allennlp_archive
        else:
            with open(model_path) as f:
                blob = json.load(f)
    if model_type == "lr":
        return LRModel.from_dict(blob) if blob else DEFAULT_LR_MODEL
    if model_type == "nn":
        return MLPModel.from_dict(blob) if blob else default_nn_model()
    if model_type == "siamese":
        # full reference architecture (ontoemma_model.py:73-164). A blob
        # is an extracted AllenNLP state_dict (param name → nested
        # lists, produced offline from a trained model.tar.gz); without
        # one, deterministic seeded weights stand in.
        import numpy as np

        from ontoemma_spark.operators.features import FEATURE_NAMES
        from ontoemma_spark.operators.siamese import SiameseScorer

        from ontoemma_spark.operators.siamese import load_word_embeddings

        words = load_word_embeddings(embeddings_path) if embeddings_path else None
        if blob or archive:
            if words is None:
                import sys as _sys

                print(
                    "WARNING: siamese state_dict loaded WITHOUT --embeddings; "
                    "scoring will use deterministic hashed stand-in word "
                    "vectors, which makes a TRAINED model's scores "
                    "meaningless — pass the model's weights300-style table.",
                    file=_sys.stderr,
                )
            if archive:
                from ontoemma_spark.operators.siamese import load_allennlp_archive

                return load_allennlp_archive(archive, FEATURE_NAMES, words=words)
            state = {k: np.asarray(v, dtype=np.float64) for k, v in blob.items()}
            return SiameseScorer.from_allennlp_state(state, FEATURE_NAMES,
                                                     words=words)
        return SiameseScorer.seeded(FEATURE_NAMES, words=words)
    raise ValueError(f"unknown model type {model_type!r} (lr | nn | siamese | none)")


def run_align(
    spark: SparkSession,
    source: str,
    target: str,
    output: str | None = None,
    gold: str | None = None,
    model_type: str = "lr",
    model_path: str | None = None,
    embeddings_path: str | None = None,
    strategy: str = "best",
    threshold: float = config.SIM_SCORE_THRESHOLD,
) -> tuple[DataFrame, dict]:
    """The CLI's whole pipeline, importable for tests: load KBs → align
    → write → (optionally) evaluate. Returns (alignment, metrics)."""
    from ontoemma_spark.align import align
    from ontoemma_spark.operators.evaluate import precision_recall_f1

    s_ents = load_kb_any(spark, source)
    t_ents = load_kb_any(spark, target)

    if strategy == "modh-exact":
        # faithful MODH needs the KB entity-load order (the reference
        # indexes its cost matrix by kb.get_entity_index). Checked BEFORE
        # the model_type branch: `-p none -a modh-exact` is a valid
        # argparse combo and used to crash in align() with an unknown-
        # strategy error (ADVICE r2) — with no model the cost matrix is
        # built from the default-calibrated scores align() falls back to.
        from ontoemma_spark.operators.assignment import modified_hungarian_alignment

        model = None if model_type == "none" else load_model(
            model_type, model_path, embeddings_path)
        result = align(s_ents, t_ents, model=model, strategy="all", threshold=0.0)
        s_order = [r[0] for r in s_ents.select("research_entity_id").collect()]
        t_order = [r[0] for r in t_ents.select("research_entity_id").collect()]
        alignment = modified_hungarian_alignment(
            result.scores, s_order, t_order, threshold=threshold
        )
    elif model_type == "none":
        # reference behavior without a model: string-equivalence matches
        # only, thresholded candidate scores are not model-calibrated
        result = align(s_ents, t_ents, model=None, strategy=strategy,
                       threshold=threshold)
        alignment = result.alignment
    else:
        result = align(s_ents, t_ents,
                       model=load_model(model_type, model_path, embeddings_path),
                       strategy=strategy, threshold=threshold)
        alignment = result.alignment

    try:
        if output:
            write_alignment_any(alignment.select("s_id", "t_id", "score"), output)

        metrics: dict = {"alignments": alignment.count()}
        if gold:
            g = load_alignment_any(spark, gold)
            m = precision_recall_f1(alignment.select("s_id", "t_id"), g).first()
            metrics.update(
                precision=m["precision"], recall=m["recall"], f1=m["f1"]
            )
    finally:
        result.release()
    return alignment, metrics


def _entities_from_training_pairs(raw: DataFrame) -> DataFrame:
    """Distinct entity table rebuilt from the source_ent/target_ent
    structs of a training jsonlines file (S10 shape), normalized to the
    full entity schema with the same defaults the KB loader applies."""
    import pyspark.sql.functions as F

    def side(col: str) -> DataFrame:
        e = raw.select(F.col(f"{col}.*"))
        have = set(e.columns)
        return e.select(
            F.col("research_entity_id"),
            F.col("canonical_name"),
            (F.coalesce(F.col("aliases"), F.array().cast("array<string>"))
             if "aliases" in have else F.array().cast("array<string>")).alias("aliases"),
            (F.coalesce(F.col("definition"), F.lit("<s>"))
             if "definition" in have else F.lit("<s>")).alias("definition"),
            (F.coalesce(F.col("source_urls"), F.array().cast("array<string>"))
             if "source_urls" in have else F.array().cast("array<string>")).alias("source_urls"),
            (F.col("category").cast("string")
             if "category" in have else F.lit(None).cast("string")).alias("category"),
            (F.coalesce(F.col("other_contexts"), F.array().cast("array<string>"))
             if "other_contexts" in have else F.array().cast("array<string>")).alias("other_contexts"),
            F.lit(None).cast("map<string,array<string>>").alias("additional_details"),
        )

    return (
        side("source_ent").unionByName(side("target_ent"))
        .dropDuplicates(["research_entity_id"])
    )


def run_train(
    spark: SparkSession,
    train_path: str,
    model_type: str = "lr",
    model_out: str | None = None,
    eval_path: str | None = None,
    threshold: float = 0.5,
) -> tuple[object, dict]:
    """Train a pair scorer from S10 training jsonlines (train_ontoemma.py
    analog: config→train/dev jsonlines → model archive; here the archive
    is a JSON weight file consumable by -m). Returns (model, metrics)."""
    from ontoemma_spark.operators.features import entity_feature_table, featurize_pairs
    from ontoemma_spark.operators.scoring import fit_lr
    from ontoemma_spark.operators.scoring_nn import fit_mlp, nn_pair_features
    from ontoemma_spark.sources.alignment import load_alignment_jsonlines

    import pyspark.sql.functions as F

    def featurize(path: str) -> DataFrame:
        raw = load_alignment_jsonlines(spark, path)
        pairs = raw.select("s_id", "t_id", "label")
        if model_type == "nn":
            named = raw.select(
                "s_id", "t_id", "label",
                F.col("source_ent.canonical_name").alias("s_name"),
                F.col("target_ent.canonical_name").alias("t_name"),
            )
            return named.select(
                "s_id", "t_id", "label", *nn_pair_features("s_name", "t_name")
            )
        feats = entity_feature_table(_entities_from_training_pairs(raw))
        return featurize_pairs(pairs.select("s_id", "t_id"), feats, feats).join(
            pairs, ["s_id", "t_id"]
        )

    train_feats = featurize(train_path)
    if model_type == "lr":
        model = fit_lr(train_feats, "label")
    elif model_type == "nn":
        from ontoemma_spark.operators.scoring_nn import NN_PAIR_FEATURES

        model = fit_mlp(train_feats, "label", feature_names=NN_PAIR_FEATURES)
    else:
        raise ValueError(f"unknown model type {model_type!r} (lr | nn)")

    if model_out:
        with open(model_out, "w") as f:
            json.dump(model.to_dict(), f)

    metrics: dict = {"trained_on": train_feats.count(), "model_type": model_type}
    if eval_path:
        ev = featurize(eval_path)
        scored = model.score_pairs(ev)
        agg = scored.select(
            F.sum(((F.col("score") >= threshold) & (F.col("label") == 1.0)).cast("int")).alias("tp"),
            F.sum(((F.col("score") >= threshold) & (F.col("label") == 0.0)).cast("int")).alias("fp"),
            F.sum(((F.col("score") < threshold) & (F.col("label") == 1.0)).cast("int")).alias("fn"),
        ).first()
        tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        metrics.update(
            precision=round(p, 6), recall=round(r, 6),
            f1=round(2 * p * r / (p + r), 6) if p + r else 0.0,
        )
    return model, metrics


def run_extract_training_data(
    spark: SparkSession,
    mrconso: str,
    out_dir: str,
    mrdef: str | None = None,
    mrrel: str | None = None,
) -> dict:
    """extract_training_data_from_umls.py analog (SURVEY §3.3): RRF →
    per-KB entity JSON dumps + positive-mapping TSV + hard/easy-negative
    training jsonlines split train/dev/test. Every step is the
    already-tested Spark operator; this composes them in the reference's
    order (UMLSExtractor.main, :70-120)."""
    import pyspark.sql.functions as F

    from ontoemma_spark.operators.blocking import candidate_pairs, entity_tokens
    from ontoemma_spark.operators.evaluate import hard_negatives
    from ontoemma_spark.operators.training import easy_negatives, train_dev_test_split
    from ontoemma_spark.sources.alignment import write_training_jsonlines
    from ontoemma_spark.sources.kb_json import dump_kb_json
    from ontoemma_spark.sources import umls

    os.makedirs(out_dir, exist_ok=True)
    concepts = umls.extract_concepts(spark, mrconso)
    mappings = umls.extract_mappings(concepts)
    entities = umls.collapse_concepts(concepts)
    if mrdef:
        entities = umls.extract_definitions(entities, spark, mrdef)
    else:
        entities = entities.withColumn("definition", F.lit(""))
    rels = (
        umls.extract_relationships(entities, spark, mrrel)
        if mrrel
        else spark.createDataFrame(
            [], "subject_id string, object_id string, relation_type string"
        )
    )

    kb_ents = entities.select(
        "SAB",
        "research_entity_id",
        "canonical_name",
        "aliases",
        F.coalesce("definition", F.lit("")).alias("definition"),
        F.array().cast("array<string>").alias("source_urls"),
        F.col("SAB").alias("category"),
        F.array().cast("array<string>").alias("other_contexts"),
        F.lit(None).cast("map<string,array<string>>").alias("additional_details"),
    )
    edges_full = rels.select(
        "subject_id", "object_id", "relation_type",
        F.lit(False).alias("symmetric"),
        F.lit(None).cast("array<string>").alias("labels"),
    )

    sabs = sorted(r[0] for r in kb_ents.select("SAB").distinct().collect())
    for sab in sabs:
        ents_sab = kb_ents.filter(F.col("SAB") == sab).drop("SAB")
        ids = ents_sab.select(
            F.col("research_entity_id").alias("subject_id")
        )
        edges_sab = edges_full.join(ids, "subject_id", "left_semi").join(
            ids.withColumnRenamed("subject_id", "object_id"), "object_id", "left_semi"
        )
        dump_kb_json(ents_sab, edges_sab, sab, os.path.join(out_dir, f"kb_{sab}.json"))

    # positive mappings TSV (write_mappings_to_file, :554-567)
    mappings.select(
        F.col("id1"), F.col("id2"), F.lit("1"), F.col("CUI")
    ).toPandas().to_csv(
        os.path.join(out_dir, "mappings.tsv"), sep="\t", header=False, index=False
    )

    # negatives per KB pair (extract_negative_mappings, :354-401)
    kb_pairs = [
        (r["sab1"], r["sab2"])
        for r in mappings.select("sab1", "sab2").distinct().collect()
    ]
    all_pairs = None
    for sab1, sab2 in kb_pairs:
        s_kb = kb_ents.filter(F.col("SAB") == sab1).drop("SAB")
        t_kb = kb_ents.filter(F.col("SAB") == sab2).drop("SAB")
        gold = mappings.filter(
            (F.col("sab1") == sab1) & (F.col("sab2") == sab2)
        ).select(F.col("id1").alias("s_id"), F.col("id2").alias("t_id"))
        cands = candidate_pairs(
            entity_tokens(s_kb), entity_tokens(t_kb), s_kb.count(), t_kb.count()
        )
        pos = gold.withColumn("label", F.lit(1.0))
        hard = hard_negatives(cands, gold).select("s_id", "t_id")
        easy = easy_negatives(gold, t_kb)
        neg = hard.unionByName(easy).distinct().withColumn("label", F.lit(0.0))
        pairs = pos.unionByName(neg)
        s_struct = s_kb.select(
            F.col("research_entity_id").alias("s_id"),
            F.struct(*s_kb.columns).alias("source_ent"),
        )
        t_struct = t_kb.select(
            F.col("research_entity_id").alias("t_id"),
            F.struct(*t_kb.columns).alias("target_ent"),
        )
        enriched = pairs.join(s_struct, "s_id").join(t_struct, "t_id").select(
            "s_id", "t_id", "label", "source_ent", "target_ent"
        )
        all_pairs = enriched if all_pairs is None else all_pairs.unionByName(enriched)

    metrics: dict = {
        "kbs": sabs,
        "entities": entities.count(),
        "positive_mappings": mappings.count(),
    }
    if all_pairs is not None:
        # split on the id projection (the split hashes its non-label
        # columns — structs are not hashable there), then rejoin structs
        split = train_dev_test_split(all_pairs.select("s_id", "t_id", "label"))
        enriched_split = all_pairs.join(split, ["s_id", "t_id", "label"])
        for part in ("train", "dev", "test"):
            write_training_jsonlines(
                enriched_split.filter(F.col("split") == part).select(
                    "label", "source_ent", "target_ent"
                ),
                os.path.join(out_dir, f"{part}_jsonl"),
            )
        metrics["training_pairs"] = split.count()
    return metrics


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(
        description="OntoEmma-compatible KB aligner (PySpark)."
    )
    ap.add_argument("-s", "--source", required=True)
    ap.add_argument("-t", "--target", required=True)
    ap.add_argument("-o", "--output")
    ap.add_argument("-i", "--input", help="gold alignment for evaluation")
    ap.add_argument("-p", "--model-type", default="lr",
                    choices=["lr", "nn", "siamese", "none"])
    ap.add_argument("-m", "--model-path")
    ap.add_argument("--embeddings", help="pretrained word table for -p "
                    "siamese (GloVe text format, optionally .gz)")
    ap.add_argument("-a", "--alignment-strategy", default="best",
                    choices=["best", "all", "modh", "modh-exact"])
    ap.add_argument("--threshold", type=float,
                    default=config.SIM_SCORE_THRESHOLD)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from ontoemma_spark.session import get_spark

    spark = get_spark(app_name="ontoemma-align", master=args.master)
    try:
        _, metrics = run_align(
            spark,
            source=args.source,
            target=args.target,
            output=args.output,
            gold=args.input,
            model_type=args.model_type,
            model_path=args.model_path,
            embeddings_path=args.embeddings,
            strategy=args.alignment_strategy,
            threshold=args.threshold,
        )
        print(json.dumps(metrics))
        return metrics
    finally:
        spark.stop()
