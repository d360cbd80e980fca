"""Mergeable HyperLogLog distinct-count sketches as plain columns.

The web-scale companion of the reference's exact `len(set(...))`-style
distinct counts (e.g. emma/OntoEmma.py:506-540 builds exact alias-set
maps in memory): at 10^12 pages a per-edge / per-host distinct count
cannot keep the exact key set, and — unlike `approx_count_distinct`,
which only yields a final number — incremental ingest needs the SKETCH
itself as a value that merges across batches (`upsert_edges` docstring
names exactly this gap: "exact distinctness across batches would need
sketch state per edge").

So: HyperLogLog (Flajolet et al. 2007) with m registers stored as a
plain `array<int>` column. Everything is native Spark SQL expressions —
no UDF, no Python in the hot path — and every step is portable to the
DuckDB oracle:

  * hashing: md5 hex (identical in Spark/DuckDB/Python — same choice as
    dedup.py and the bloom filter in dedup.py:1117);
  * bucket: first 2 hex chars parsed base-16, mod m (256 % m == 0 for
    the power-of-two m used here, so the bucket is uniform);
  * rho (leading-zero rank): counted on the NEXT 13 hex chars (52 bits)
    with string ops — `regexp_extract('^0*')` for whole-zero nibbles
    plus a literal map for the zero bits inside the first non-zero
    nibble. String counting instead of float log2 because
    `floor(log2(w))` is wrong in double precision when w has ~53
    significant bits (log2(2^53-1) rounds to exactly 53.0), and an
    off-by-one rho silently biases the estimate; strings are exact and
    identical across engines.

Register arrays build with one groupBy((key, bucket)) max — map-side
combinable, so the exchange carries at most m rows per key — then one
groupBy(key) assembly into the dense array. Merging two sketches is
`zip_with(a, b, greatest)`: in-row, associative, commutative — the
property that makes per-batch sketches fold into standing state without
ever rescanning history.

Estimate (standard HLL):  E = alpha_m * m^2 / sum_j 2^(-M_j),
with linear-counting fallback  E = m * ln(m / V)  when E <= 2.5 m and
V = #zero registers > 0. The 2^(-M_j) terms are exact powers of two,
and their sum is USUALLY exactly representable in double — but not
always: terms span 2^0 down to 2^-53 while the total can exceed 1, so
a sum mixing rho=1 registers with a rho~53 register needs more than
53 mantissa bits and rounds, at which point Spark's dense left-fold
and DuckDB's sparse-sum-plus-count fold may differ by ulps. The
cross-engine agreement is therefore tolerance-based, not bit-for-bit:
`round(..., 4)` absorbs both that and the final ln/divide libm drift
(it would only flake if an estimate landed within ~1e-14 relative of
a 0.5e-4 rounding boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_M = 64  # registers; a power of two <= 256 (bucket = 2 hex chars)
# alpha_m for m = 64, from Flajolet et al. 2007 §4
_ALPHA_M = 0.709
# zero bits contributed by the first non-zero hex nibble
_NIBBLE_ZEROS = {
    "1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1,
    "8": 0, "9": 0, "a": 0, "b": 0, "c": 0, "d": 0, "e": 0, "f": 0,
}
_RHO_HEX_CHARS = 13  # 52 bits of rank material after the bucket chars


def hll_bucket(item) -> Column:
    """Register index 0..HLL_M-1 for an item (string column)."""
    c = F.col(item) if isinstance(item, str) else item
    return (
        F.conv(F.substring(F.md5(c), 1, 2), 16, 10).cast("int") % HLL_M
    ).alias("bucket")


def hll_rho(item) -> Column:
    """Leading-zero rank (1-based) over 52 bits of the item's md5,
    computed with exact string ops (see module docstring for why not
    log2)."""
    c = F.col(item) if isinstance(item, str) else item
    h = F.substring(F.md5(c), 3, _RHO_HEX_CHARS)
    zeros = F.length(F.regexp_extract(h, "^0*", 0))
    first_nz = F.substring(F.regexp_replace(h, "^0*", ""), 1, 1)
    nib = F.create_map(
        *[F.lit(x) for kv in _NIBBLE_ZEROS.items() for x in kv]
    )[first_nz]
    return (
        F.when(zeros == _RHO_HEX_CHARS, F.lit(4 * _RHO_HEX_CHARS + 1))
        .otherwise(zeros * 4 + nib + 1)
        .cast("int")
        .alias("rho")
    )


def hll_sketch(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    out_col: str = "hll",
) -> DataFrame:
    """Per-key HLL register array over the items observed for that key.

    Shape: ONE scan — groupBy(key+bucket).max(rho) partial-aggregates
    in the scan stage (the exchange carries <= HLL_M+1 rows per key) —
    then one groupBy(key) map assembly + an in-row scatter into the
    dense array. Null items hash to a null bucket, survive the first
    groupBy as a sentinel row, and are filtered in-row at assembly, so
    keys whose items are all null still get a row (all-zero sketch,
    estimate 0) WITHOUT a second scan of the source."""
    per_bucket = (
        df.select(*key_cols, hll_bucket(item_col), hll_rho(item_col))
        .groupBy(*key_cols, "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    return (
        per_bucket.groupBy(*key_cols)
        .agg(
            F.map_from_entries(
                F.filter(
                    F.collect_list(F.struct("bucket", "mr")),
                    lambda s: s["bucket"].isNotNull(),
                )
            ).alias("_regs")
        )
        .select(
            *key_cols,
            F.transform(
                F.sequence(F.lit(0), F.lit(HLL_M - 1)),
                lambda b: F.coalesce(
                    F.element_at(F.col("_regs"), b), F.lit(0)
                ),
            ).alias(out_col),
        )
    )


def hll_merge(a, b) -> Column:
    """Merge two register arrays: element-wise max. Null-safe — a null
    side behaves as the empty sketch."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    empty = F.array_repeat(F.lit(0), HLL_M).cast("array<int>")
    return F.zip_with(
        F.coalesce(ca, empty), F.coalesce(cb, empty),
        lambda x, y: F.greatest(x, y),
    )


def hll_estimate(regs) -> Column:
    """Distinct-count estimate from a register array (double).

    Raw estimate alpha_m * m^2 / sum(2^-M_j); linear counting
    m * ln(m/V) when the raw estimate <= 2.5m and V (zero registers)
    > 0 — the standard small-range correction, without which HLL
    overestimates tiny sets. An all-zero sketch estimates 0.0."""
    c = F.col(regs) if isinstance(regs, str) else regs
    inv_sum = F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    m = HLL_M
    raw = F.lit(_ALPHA_M * m * m) / inv_sum
    v = F.size(F.filter(c, lambda r: r == 0))
    return (
        F.when(v == m, F.lit(0.0))
        .when((raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v))
        .otherwise(raw)
    )
