"""Similarity search over an embedding column (array<float>).

Brute-force cosine is the exactness baseline (native zip_with/aggregate
column math — JVM-side, no Python); the LSH-bucketed variant is the
scale path: random-hyperplane signatures shrink the candidate set from
N to the bucket population before exact rescoring (the same
block-then-score shape as the reference's candidate selection,
emma/CandidateSelection.py — cheap blocking, exact scoring).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — left-to-right aggregate (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL (not NaN, not a crash) when either vector has zero norm:
    under ANSI mode 0/0 raises DIVIDE_BY_ZERO, and with ANSI off it
    yields NaN — which Spark orders ABOVE every real value, so a
    zero-norm padding artifact would win every desc top-k. The when()
    guard makes both modes produce NULL, which every consumer here
    filters."""
    d = norm(a) * norm(b)
    return F.when(d != 0.0, dot(a, b) / d)


def cosine_scores_vs_query(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cos) of every row against a fixed query vector. The
    query travels as a literal array → broadcast-free narrow map.

    Zero-norm rows (all-zeros padding artifacts) and null vectors are
    EXCLUDED: their cosine is 0/0 = NaN, and Spark orders NaN ABOVE
    every real value, so without the filter a zero vector would rank
    1 in every desc top-k and pass every >= threshold."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return embeddings.select(
        F.col(id_col).alias("vec_id"), cosine(F.col(vec_col), q).alias("cos")
    ).filter(F.col("cos").isNotNull() & ~F.isnan(F.col("cos")))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine (desc, id tiebreak).

    orderBy().limit(k) plans TakeOrderedAndProject — every partition
    keeps only its local top-k, fully parallel. (The previous global
    row_number window funneled the whole table through one task; the
    residual rank window below runs over ≤k rows only.)"""
    scored = cosine_scores_vs_query(embeddings, query_vec, id_col, vec_col)
    top = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


def _signature_col(vec: Column, planes: list[list[float]]) -> Column:
    """Hyperplane-sign bit string of `vec` — the ONE shared LSH
    signature used by the query-bucket probe and the near-dup pair
    join (a divergence between the two would silently change recall)."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(p) for p in plane])) >= 0, "1"
        ).otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (no RNG state: values
    derived from a hash-like integer recurrence)."""
    vals = []
    x = (seed * 2654435761 + 97531) & 0xFFFFFFFF
    for _ in range(dim):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        vals.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_bucket_candidates(
    embeddings: DataFrame,
    query_vec: list[float],
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH candidate bucket: rows whose sign signature
    equals the query's, with exact cosine computed only for them. The
    planes are deterministic (_hyperplane integer recurrence), so a SQL
    twin can embed them as literals — the driver query `ann_lsh_bucket`
    hash-checks this path against DuckDB."""
    dim = len(query_vec)
    planes = [_hyperplane(dim, s) for s in range(num_planes)]
    q_sig_bits = "".join(
        "1" if sum(p * v for p, v in zip(plane, query_vec)) >= 0 else "0" for plane in planes
    )
    bucketed = embeddings.withColumn("sig", _signature_col(F.col(vec_col), planes))
    candidates = bucketed.filter(F.col("sig") == q_sig_bits).drop("sig")
    return cosine_scores_vs_query(candidates, query_vec, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer cells for a cell-probe search
# (the registry's ann_ivf_probe) — the second scale path next to
# hyperplane LSH. At 10^12 rows the cell id becomes the table's
# partition key, so a probe reads nprobe/k of the data instead of
# scanning (same pruning argument as LSH).
# ---------------------------------------------------------------------------


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Σ (vᵢ - cᵢ)² as a native expression (centroid literalized)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment as pure column math: a distances
    array over the (small, literalized) centroid list, argmin via
    array_position(array_min). Narrow — no shuffle, no Python."""
    dists = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    cell = F.array_position(dists, F.array_min(dists)) - 1
    return embeddings.withColumn(out_col, cell.cast("int"))


def deterministic_grid_centroids(dim: int, k: int = 8) -> list[list[float]]:
    """Data-independent deterministic centroids (hashed-seed recurrence,
    like _hyperplane) — the coarse quantizer the DRIVER QUERY uses so
    its DuckDB twin can embed the centroids as literals."""
    return [_hyperplane(dim, seed=1000 + i) for i in range(k)]


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the dedup-family member over
# the embedding column: near-dup docs whose EMBEDDINGS agree, catching
# paraphrases the lexical MinHash/SimHash/n-gram sketches miss).
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    embeddings: DataFrame,
    min_cos: float = 0.95,
    num_planes: int = 8,
    exact: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) with id_a < id_b and cosine ≥ min_cos.

    Scale path (default): rows are bucketed by their random-hyperplane
    sign signature (narrow, deterministic planes — same machinery as
    lsh_bucket_candidates), candidate pairs come from a SIGNATURE
    EQUI-JOIN (only same-bucket pairs materialize — the banded-LSH
    shape of dedup.py, never the n² product), and exact cosine rescores
    the survivors. Recall follows the hyperplane collision bound: a
    pair at cosine c collides with probability (1 − θ/π)^planes,
    θ = arccos(c) — at 0.95 and 8 planes ≈ 0.56 per table; multiple
    plane sets (different seeds) union for higher recall, like
    MinHash bands.

    exact=True is the all-pairs correctness baseline (id_a < id_b theta
    join) — quadratic by definition; keep it off any big table.
    """
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    first = embeddings.select(vec_col).first()
    if first is None:
        # empty corpus (or all-null vectors) → empty pair table with
        # the right schema (the dim probe below would crash on None)
        return embeddings.sparkSession.createDataFrame(
            [], schema=f"id_a {embeddings.schema[id_col].dataType.simpleString()},"
                       f" id_b {embeddings.schema[id_col].dataType.simpleString()},"
                       " cos double",
        )
    dim = len(first[0])
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    if exact:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        planes = [_hyperplane(dim, s) for s in range(num_planes)]
        a = a.withColumn("sig", _signature_col(F.col("vec_a"), planes))
        b = b.withColumn("sig", _signature_col(F.col("vec_b"), planes))
        pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b")).drop("sig")
    # NaN >= threshold is TRUE under Spark's NaN ordering, so zero-norm
    # vectors would be emitted as near-dups of every bucket-mate
    return pairs.select(
        "id_a", "id_b", cosine(F.col("vec_a"), F.col("vec_b")).alias("cos")
    ).filter(
        ~F.isnan(F.col("cos")) & (F.col("cos") >= F.lit(float(min_cos)))
    )
