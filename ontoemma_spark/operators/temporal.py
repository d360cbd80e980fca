"""Temporal joins for versioned web/KG state: the as-of join (what did
the KG say about entity e at time t?) and the bucketed interval join
(which crawl window / campaign does each fetch fall into?).

Neither exists as a Spark builtin, and the naive formulations are the
two classic scale-killers:

  * as-of as an inequality join (``l.key = r.key AND r.ts <= l.ts`` +
    argmax) explodes to every (query, older-version) pair before the
    window prunes — O(queries × versions-per-key) intermediate rows.
  * interval membership as ``start <= t AND t < end`` alone has no
    equi-key at all, so Spark plans BroadcastNestedLoopJoin — O(n·m).

Both operators here are single-shuffle relational shapes that survive
100 TB:

  * ``asof_join``: the union-tag trick. Facts and queries are unioned
    into one stream, one shuffle on the key, and a running
    ``last(fact-struct) ignorenulls`` window carries the latest fact
    version forward onto each query row. Cost is one exchange +
    per-key sort, independent of versions-per-key fan-out.
  * ``interval_join``: coarse time-bucketing. Intervals explode into
    the fixed-width buckets they cover, points map to exactly one
    bucket, and membership becomes an equi-join on the bucket id
    refined by the exact range predicate. Fan-out is bounded by
    interval-length / bucket_width and guarded.

Reference seam: the reference engine has no temporal state at all (its
KBs are point-in-time files, emma/OntoEmma.py:62-101); these operators
are the beyond-reference layer that makes the KG pipeline's versioned
edge state (graph.upsert_edges) *queryable* the
way a production web-KG is (fact validity at crawl time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _common_order_type(a, b) -> str:
    """Cast target for ordering two timestamp-ish columns together:
    'long' when both are integral (EXACT — epoch-ns above 2^53 must
    not collide), 'timestamp' when both already are, else 'double'
    (a side is fractional; its precision is already the caller's)."""
    from pyspark.sql.types import IntegralType, TimestampType

    if isinstance(a, IntegralType) and isinstance(b, IntegralType):
        return "long"
    if isinstance(a, TimestampType) and isinstance(b, TimestampType):
        return "timestamp"
    return "double"


def _collapsed_versions(
    facts: DataFrame, keys: list[str], fact_ts: str, payload: list[str]
) -> DataFrame:
    """One deterministic version per (key, ts): the whole version rides
    in a `_fact` struct (ts first) and duplicates collapse to the
    max-struct — shared by asof_join and version_intervals so their
    tie-break contracts can never drift apart."""
    fact_struct = F.struct(
        F.col(fact_ts).alias("_ts"), *[F.col(c) for c in payload]
    ).alias("_fact")
    return (
        facts.select(*keys, fact_struct)
        .groupBy(*keys, "_fact._ts")
        .agg(F.max("_fact").alias("_fact"))
        .select(*keys, "_fact")
    )


def asof_join(
    queries: DataFrame,
    facts: DataFrame,
    on: str | list[str],
    query_ts: str = "ts",
    fact_ts: str = "valid_from",
    tolerance: int | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: each query row picks up the fact
    version with the greatest ``fact_ts <= query_ts`` for its key(s),
    or nulls if no version is old enough (left semantics — queries
    are never dropped; a KG lookup before the entity's first version
    is a real answer, "unknown then").

    Plan shape (the scalable as-of): tag facts side=0 and queries
    side=1, union, ONE shuffle on the key, and a running
    ``last(struct, ignorenulls=True)`` over (ts, side) carries the
    newest visible fact version onto each query row. The fact payload
    travels as ONE struct — ``last`` with ignorenulls on bare columns
    would skip a legitimately-null fact column back to an older
    version and stitch a franken-row from two versions; the struct is
    non-null per fact row, so the whole version wins or loses
    atomically.

    Ties: a fact AT the query timestamp is visible (side orders facts
    first at equal ts). Duplicate fact versions at the same (key, ts)
    are pre-collapsed deterministically to the max-struct over the
    payload (latest-writer-wins needs a version column upstream;
    document order is not a thing in a distributed table).

    ``tolerance``: optional max staleness — a matched fact older than
    ``query_ts - tolerance`` is nulled back out (same unit as the ts
    columns; keep timestamps as epoch numerics, see TESTDATA notes).

    Column contract: output = all query columns + the fact payload
    columns + ``fact_ts`` (the matched version's timestamp). Fact
    payload column names must not collide with query column names.

    Skew note: the per-key window sort concentrates a hyper-hot key
    (every query probing one celebrity entity) on one task. The
    standard fix if that ever bites is time-range sub-partitioning
    with boundary-fact replication (salt the key by coarse time
    bucket, replicate each key's newest fact per bucket into the next
    bucket); not implemented here because the KG probe distribution is
    entity-keyed and long-tailed, unlike the token joins where the
    guard is mandatory (see lm_filter's AQE note).
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in facts.columns if c not in keys and c != fact_ts]
    collide = (set(payload) | {fact_ts}) & set(queries.columns)
    if collide:
        raise ValueError(f"fact columns collide with query columns: {sorted(collide)}")
    reserved = {"_t", "_side", "_fact", "_hit"} & (
        set(queries.columns) | set(facts.columns)
    )
    if reserved:
        raise ValueError(f"reserved internal column names in input: {sorted(reserved)}")

    versions = _collapsed_versions(facts, keys, fact_ts, payload)

    # common ORDER type for the union: exact (long) when both sides are
    # integral — a double cast silently collides epoch-nanosecond
    # timestamps above 2^53 and can surface a fact NEWER than the
    # query; double only when a side is already fractional.
    t_order = _common_order_type(
        queries.schema[query_ts].dataType, facts.schema[fact_ts].dataType
    )

    q_cols = queries.columns
    tagged_q = queries.select(
        *q_cols,
        F.col(query_ts).cast(t_order).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(versions.schema["_fact"].dataType).alias("_fact"),
    )
    tagged_f = versions.select(
        *[
            F.col(k) if k in keys else F.lit(None).cast(queries.schema[k].dataType).alias(k)
            for k in q_cols
        ],
        F.col("_fact._ts").cast(t_order).alias("_t"),
        F.lit(0).alias("_side"),
        "_fact",
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        tagged_q.unionByName(tagged_f)
        .withColumn("_hit", F.last("_fact", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if tolerance is not None:
        carried = carried.withColumn(
            "_hit",
            F.when(
                F.col("_hit._ts").cast(t_order)
                >= F.col("_t") - F.lit(tolerance).cast(t_order),
                F.col("_hit"),
            ),
        )
    return carried.select(
        *q_cols,
        F.col("_hit._ts").alias(fact_ts),
        *[F.col(f"_hit.{c}").alias(c) for c in payload],
    )


def version_intervals(
    facts: DataFrame,
    on: str | list[str],
    fact_ts: str = "valid_from",
    open_end: int | None = None,
) -> DataFrame:
    """Versioned facts → SCD-2 validity intervals: each version gains a
    ``valid_to`` = the next version's ``valid_from`` for its key (the
    current version gets ``open_end``, default null = still valid).
    The inverse view of ``asof_join``: as-of probes resolve against
    versions, BI-style interval scans and ``interval_join`` want the
    half-open [valid_from, valid_to) form.

    Duplicate versions at the same (key, ts) are collapsed to the
    deterministic max-struct first (same contract as asof_join). Plan
    shape: two exchanges — the dedup aggregate partitions on
    (key, ts) with a map-side partial (duplicates combine BEFORE they
    travel), then the lead() window re-partitions on the key alone.
    Collapsing both into one key-partitioned window (dedup via
    lag(ts) != ts) would save the exchange but ship every duplicate
    through the shuffle; version tables are dup-heavy at crawl scale,
    so the combiner wins.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in facts.columns if c not in keys and c != fact_ts]
    versions = _collapsed_versions(facts, keys, fact_ts, payload)
    w = Window.partitionBy(*keys).orderBy(F.col("_fact._ts"))
    end = F.lead("_fact._ts").over(w)
    if open_end is not None:
        end = F.coalesce(end, F.lit(open_end))
    return versions.select(
        *keys,
        F.col("_fact._ts").alias(fact_ts),
        end.cast(versions.schema["_fact"].dataType["_ts"].dataType).alias("valid_to"),
        *[F.col(f"_fact.{c}").alias(c) for c in payload],
    )


# interval_join refuses an interval that covers more buckets than this
MAX_BUCKETS_PER_INTERVAL = 10_000


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "t",
    start: str = "start",
    end: str = "end",
    bucket_width: int = 100,
) -> DataFrame:
    """Half-open interval membership ``start <= t < end`` as an
    EQUI-join: intervals explode into the fixed-width buckets they
    cover, points hash to exactly one bucket, the join runs on the
    bucket id and the exact range predicate refines. Output = every
    (point, interval) membership pair (a point inside k overlapping
    intervals yields k rows), all point columns + all interval
    columns.

    Without the bucket key Spark has no equi-condition and plans
    BroadcastNestedLoopJoin — O(points × intervals), the canonical
    range-join trap (plan-asserted away in test_plan_quality).

    ``bucket_width`` trades replication for selectivity: each interval
    lands in ceil(len/width)+1 buckets, each point in 1. Pick width ≈
    median interval length. The guard fails LOUDLY if any interval
    would cover more than MAX_BUCKETS_PER_INTERVAL buckets (an
    unbounded interval — end = +inf sentinel, corrupt timestamp —
    would otherwise explode the build side quietly; this is a data
    bug, the operator refuses to amplify it. Note the check runs
    before explode but costs an extra aggregate job; it is the same
    eager-guard stance as load_warc's size check).

    Empty/degenerate intervals (end <= start) match nothing and are
    dropped up front. Null timestamps/bounds never match (null bucket
    keys don't equi-join — the SQL semantics of unknown membership).
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    shared = set(points.columns) & set(intervals.columns)
    if shared:
        raise ValueError(
            f"points and intervals share column names: {sorted(shared)}"
        )
    if "_bucket" in set(points.columns) | set(intervals.columns):
        raise ValueError("reserved internal column name in input: _bucket")
    # ADVICE r5: the last covered bucket is floor(end/width), NOT
    # floor((end-1)/width) — the latter is only correct for integral
    # bounds (end=100.5, width=100 covered only bucket 0 while a
    # matching point t=100.2 hashes to bucket 1: silent drops). For
    # integral bounds the extra boundary bucket is empty of matches and
    # the exact range predicate discards it — identical output, no
    # false negatives for fractional bounds.
    iv = intervals.filter(F.col(end) > F.col(start))
    worst = iv.select(
        F.max(
            F.floor(F.col(end) / bucket_width)
            - F.floor(F.col(start) / bucket_width)
            + 1
        ).alias("n")
    ).first()
    if worst and worst["n"] is not None and worst["n"] > MAX_BUCKETS_PER_INTERVAL:
        raise ValueError(
            f"an interval covers {worst['n']} buckets "
            f"(> MAX_BUCKETS_PER_INTERVAL={MAX_BUCKETS_PER_INTERVAL}); "
            "widen bucket_width or fix the interval data"
        )
    b_iv = iv.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start) / bucket_width),
                F.floor(F.col(end) / bucket_width),
            )
        ),
    )
    b_pt = points.withColumn("_bucket", F.floor(F.col(point_ts) / bucket_width))
    return (
        b_pt.join(b_iv, "_bucket")
        .filter((F.col(start) <= F.col(point_ts)) & (F.col(point_ts) < F.col(end)))
        .drop("_bucket")
    )
