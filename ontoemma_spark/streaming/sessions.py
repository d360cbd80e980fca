"""User sessionization with a gap timeout over the batch events table.

The reference has no streaming (SURVEY §2.11); sessionization is the
canonical stateful event operator a web-scale ingest pipeline needs
(e.g. grouping crawl events into fetch sessions). An event later than
`gap` seconds after the user's previous event opens a new session.

A pure-Python twin (`sessionize_py`) defines the expected output, so
tests check the Spark result against closed-form truth.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 1800


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Sessions of a static events table: classic two-window
    sessionization (new-session flag via lag, session id via running
    sum, then groupBy) — one shuffle on user_id total, since all three
    steps share the same partitioning and Spark plans a single
    Exchange. Matches sessionize_py(include_open=True): every session,
    including each user's final one.

    Scale: partition key is user_id — the natural key at 10^12 events;
    power-user skew is handled by AQE skew-join splitting on the window
    exchange. Gap comparison is in microseconds (strict >),
    bit-identical to the SQL oracle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    # parquet timestamps load as TIMESTAMP_NTZ; unix_micros needs TZ —
    # session tz is pinned UTC, so the cast is deterministic and equals
    # DuckDB's epoch_us on the same value.
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    # gap in µs computed in Python: a 32-bit literal product overflows
    # under ANSI mode for gaps ≥ ~36 min
    gap_us = int(gap_seconds) * 1_000_000
    new_sess = F.when(
        prev_us.isNull() | ((us - prev_us) > F.lit(gap_us)), 1
    ).otherwise(0)
    numbered = (
        # null event times and users carry no session information
        events.select(user_col, ts_col)
        .filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .withColumn("_new", new_sess)
        .withColumn(
            "_sid",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        numbered.groupBy(user_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sid")
    )


def sessionize_py(
    rows: list[tuple[int, pd.Timestamp]],
    gap_seconds: int,
    include_open: bool = True,
) -> list[tuple]:
    """Closed-form twin: (user_id, start, end, n) per session; the final
    (still open) session per user is included only when include_open."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, ts in rows:
        by_user[uid].append(ts)
    out = []
    for uid, ts_list in by_user.items():
        ts_list.sort()
        start = last = ts_list[0]
        n = 0
        for t in ts_list:
            if (t - last).total_seconds() > gap_seconds:
                out.append((uid, start, last, n))
                start, n = t, 0
            last = t
            n += 1
        if include_open:
            out.append((uid, start, last, n))
    return sorted(out)
