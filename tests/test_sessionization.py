"""Gap-timeout sessionization (sessionize_batch) vs the closed-form
python twin."""

import pandas as pd

from ontoemma_spark.streaming.sessions import sessionize_py

GAP = 600  # 10 min


def test_sessionize_py_twin():
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    mins = lambda m: t0 + pd.Timedelta(minutes=m)  # noqa: E731
    rows = [(1, mins(0)), (1, mins(5)), (1, mins(30)), (2, mins(0))]
    closed = sessionize_py(rows, 600, include_open=False)
    assert closed == [(1, mins(0), mins(5), 2)]
    all_sessions = sessionize_py(rows, 600, include_open=True)
    assert (1, mins(30), mins(30), 1) in all_sessions
    assert (2, mins(0), mins(0), 1) in all_sessions


def test_sessionize_batch_matches_python_twin(spark):
    from ontoemma_spark.streaming.sessions import sessionize_batch

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "ts")
    )
    rows = [(r["user_id"], pd.Timestamp(r["ts"])) for r in events.collect()]
    # include_open=True: the batch form emits every session, including
    # each user's final one
    expected = sorted(
        (uid, start, end, n)
        for uid, start, end, n in sessionize_py(rows, GAP, include_open=True)
    )
    got = sorted(
        (r["user_id"], pd.Timestamp(r["session_start"]),
         pd.Timestamp(r["session_end"]), r["n_events"])
        for r in sessionize_batch(events, gap_seconds=GAP).collect()
    )
    assert got == expected
