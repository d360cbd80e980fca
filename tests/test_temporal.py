"""temporal.asof_join / version_intervals / interval_join semantics,
plus the SCC and bow-tie operators' hand cases and random-digraph
parity vs definitional mutual-reachability closures — the contracts
the oracle queries can't isolate (tolerance, null-payload atomicity,
guard failures, loud non-convergence, asof⇆interval duality)."""

import pytest
from pyspark.sql import functions as F

from ontoemma_spark.operators.components import strongly_connected_components
from ontoemma_spark.operators.temporal import (
    asof_join,
    interval_join,
    version_intervals,
)


def _facts(spark):
    return spark.createDataFrame(
        [
            ("e1", 10, "a", 1),
            ("e1", 20, "b", 2),
            ("e1", 20, "c", 3),  # duplicate ts: max-struct keeps ("c", 3)
            ("e2", 5, None, 4),  # null payload column inside a valid version
            ("e2", 7, "y", 5),
        ],
        "key string, valid_from bigint, val string, ver bigint",
    )


def test_asof_backward_inclusive_and_left(spark):
    qs = spark.createDataFrame(
        [(1, "e1", 15), (2, "e1", 20), (3, "e1", 9), (4, "e3", 99)],
        "qid bigint, key string, ts bigint",
    )
    rows = {
        r["qid"]: (r["valid_from"], r["val"], r["ver"])
        for r in asof_join(qs, _facts(spark), on="key", query_ts="ts",
                           fact_ts="valid_from").collect()
    }
    assert rows[1] == (10, "a", 1)          # strictly-older version wins
    assert rows[2] == (20, "c", 3)          # inclusive at ts; dup collapsed max-struct
    assert rows[3] == (None, None, None)    # predates first version
    assert rows[4] == (None, None, None)    # unknown key kept (left)


def test_asof_null_fact_column_does_not_leak_older_version(spark):
    """The whole-version-struct contract: e2's newest version at ts=6
    is (5, null, 4) — a bare last(val, ignorenulls) would skip the
    null back to nothing or stitch columns from two versions."""
    qs = spark.createDataFrame([(1, "e2", 6), (2, "e2", 8)],
                               "qid bigint, key string, ts bigint")
    rows = {
        r["qid"]: (r["valid_from"], r["val"], r["ver"])
        for r in asof_join(qs, _facts(spark), on="key", query_ts="ts",
                           fact_ts="valid_from").collect()
    }
    assert rows[1] == (5, None, 4)
    assert rows[2] == (7, "y", 5)


def test_asof_tolerance_nulls_stale_match(spark):
    qs = spark.createDataFrame([(1, "e1", 25), (2, "e1", 35)],
                               "qid bigint, key string, ts bigint")
    rows = {
        r["qid"]: r["val"]
        for r in asof_join(qs, _facts(spark), on="key", query_ts="ts",
                           fact_ts="valid_from", tolerance=10).collect()
    }
    assert rows[1] == "c"    # staleness 5 <= 10
    assert rows[2] is None   # staleness 15 > 10


def test_asof_payload_collision_raises(spark):
    qs = spark.createDataFrame([(1, "e1", 5, "x")],
                               "qid bigint, key string, ts bigint, val string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(qs, _facts(spark), on="key", query_ts="ts",
                  fact_ts="valid_from")


def test_interval_join_membership_and_edges(spark):
    pts = spark.createDataFrame(
        [(1, 0), (2, 79), (3, 80), (4, 100), (5, 1000)],
        "pid bigint, t bigint",
    )
    ivs = spark.createDataFrame(
        [(10, 0, 80), (20, 50, 150), (30, 200, 200), (40, 300, 250)],
        "iid bigint, start bigint, end bigint",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(pts, ivs, bucket_width=64).collect()
    }
    # half-open: t=79 in [0,80), t=80 not; empty (200,200) and inverted
    # (300,250) intervals match nothing; t=100 only in [50,150)
    assert got == {(1, 10), (2, 10), (2, 20), (3, 20), (4, 20)}


def test_interval_join_unbounded_interval_guard(spark):
    pts = spark.createDataFrame([(1, 0)], "pid bigint, t bigint")
    ivs = spark.createDataFrame([(1, 0, 10**12)], "iid bigint, start bigint, end bigint")
    with pytest.raises(ValueError, match="MAX_BUCKETS_PER_INTERVAL"):
        interval_join(pts, ivs, bucket_width=100)


def test_interval_join_is_equi_join_in_the_plan(spark):
    """The whole point of the bucketing: no BroadcastNestedLoopJoin /
    CartesianProduct — membership runs as an equi-join on _bucket."""
    pts = spark.createDataFrame([(1, 0)], "pid bigint, t bigint")
    ivs = spark.createDataFrame([(1, 0, 10)], "iid bigint, start bigint, end bigint")
    plan = interval_join(pts, ivs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_asof_single_exchange_no_join(spark):
    """The union-tag as-of never plans a join at all — one exchange on
    the key (plus window sort), regardless of versions-per-key."""
    facts = _facts(spark).select("key", "valid_from", "val")
    qs = spark.createDataFrame([(1, "e1", 15)], "qid bigint, key string, ts bigint")
    plan = (
        asof_join(qs, facts, on="key", query_ts="ts", fact_ts="valid_from")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan.replace("JoinedRow", ""), plan


def test_scc_hand_case(spark):
    """Two cycles bridged one-way, DAG tail, self-loop singleton."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),   # SCC {a,b,c}
         ("a", "f"),                            # one-way bridge
         ("f", "g"), ("g", "f"),               # SCC {f,g}
         ("d", "a"),                            # pure source
         ("g", "h"),                            # pure sink
         ("e", "e")],                           # self-loop singleton
        "src string, dst string",
    )
    got = {r["node"]: r["component"] for r in
           strongly_connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "f": "f", "g": "f",
                   "d": "d", "e": "e", "h": "h"}


def test_scc_empty_and_round_bound(spark, broadcast_off):
    empty = spark.createDataFrame([], "src string, dst string")
    assert strongly_connected_components(empty).collect() == []
    # a depth-3 id-ordered DAG chain needs 3 coloring rounds; bound 1
    # must fail LOUDLY, never return a partial answer
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"),
         ("d", "e"), ("e", "f"), ("f", "e")],
        "src string, dst string",
    )
    # the round bound is a property of the DISTRIBUTED coloring loop;
    # disable the r6 driver-side Tarjan fast path (which legitimately
    # returns the exact answer with no rounds at all) to reach it
    with broadcast_off(), pytest.raises(RuntimeError, match="did not settle"):
        strongly_connected_components(chain, max_rounds=1)
    got = {r["node"]: r["component"] for r in
           strongly_connected_components(chain).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "f": "e"}


def test_scc_random_graph_vs_python_mutual_reachability(spark):
    """Parity on seeded random digraphs vs the definition itself:
    scc(v) = min{w : v reaches w and w reaches v} over BFS closures —
    O(n^2) but unarguable at n=14."""
    import random

    rnd = random.Random(11)
    for trial in range(3):
        n = 14
        edges = sorted({
            (f"v{rnd.randrange(n):02d}", f"v{rnd.randrange(n):02d}")
            for _ in range(26 + trial * 8)
        })
        nodes = sorted({v for e in edges for v in e})
        adj: dict[str, set] = {v: set() for v in nodes}
        for s, d in edges:
            adj[s].add(d)
        reach = {}
        for v in nodes:
            seen, frontier = {v}, [v]
            while frontier:
                nxt = [w for u in frontier for w in adj[u] if w not in seen]
                seen.update(nxt)
                frontier = nxt
            reach[v] = seen
        want = {
            v: min(w for w in nodes if w in reach[v] and v in reach[w])
            for v in nodes
        }

        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["node"]: r["component"] for r in
               strongly_connected_components(df, max_rounds=30).collect()}
        assert got == want, f"trial {trial}"


def test_version_intervals_scd2(spark):
    out = version_intervals(_facts(spark), on="key")
    got = {(r["key"], r["valid_from"]): (r["valid_to"], r["val"], r["ver"])
           for r in out.collect()}
    assert got == {
        ("e1", 10): (20, "a", 1),
        ("e1", 20): (None, "c", 3),   # dup ts collapsed max-struct; open end
        ("e2", 5): (7, None, 4),
        ("e2", 7): (None, "y", 5),
    }
    filled = {(r["key"], r["valid_from"]): r["valid_to"]
              for r in version_intervals(_facts(spark), on="key",
                                         open_end=999).collect()}
    assert filled[("e1", 20)] == 999 and filled[("e2", 7)] == 999


def test_asof_version_intervals_duality_hypothesis(spark):
    """Property: asof_join(q, facts) returns exactly the version whose
    [valid_from, valid_to) interval (from version_intervals) contains
    the query ts — the two operators are inverse views of one state.
    Checked against a brute-force python spec on seeded random data."""
    import random

    rnd = random.Random(23)
    for trial in range(3):
        fact_rows = sorted({
            (f"k{rnd.randrange(4)}", rnd.randrange(0, 50) * 2)
            for _ in range(12 + trial * 6)
        })
        facts_df = spark.createDataFrame(
            [(k, t, f"v{t}") for k, t in fact_rows],
            "key string, valid_from bigint, val string",
        )
        q_rows = [(i, f"k{rnd.randrange(5)}", rnd.randrange(-5, 110))
                  for i in range(25)]
        qs = spark.createDataFrame(q_rows, "qid bigint, key string, ts bigint")

        by_key: dict[str, list[int]] = {}
        for k, t in fact_rows:
            by_key.setdefault(k, []).append(t)
        def spec(k, ts):
            older = [t for t in by_key.get(k, []) if t <= ts]
            return f"v{max(older)}" if older else None

        got = {r["qid"]: r["val"] for r in
               asof_join(qs, facts_df, on="key", query_ts="ts",
                         fact_ts="valid_from").collect()}
        want = {qid: spec(k, ts) for qid, k, ts in q_rows}
        assert got == want, f"trial {trial}"

        # duality: interval containment picks the same version
        iv = {(r["key"], r["valid_from"]):
              (10**9 if r["valid_to"] is None else r["valid_to"])
              for r in version_intervals(facts_df, on="key").collect()}
        for qid, k, ts in q_rows:
            hits = [f"v{vf}" for (kk, vf), vt in iv.items()
                    if kk == k and vf <= ts < vt]
            assert (hits[0] if hits else None) == want[qid]


def test_bow_tie_hand_case(spark):
    """Full anatomy on a hand graph: core {a,b,c}, IN chain e→d→a,
    OUT chain c→f→g, disconnected pair, tendril hanging off IN."""
    from ontoemma_spark.operators.components import bow_tie_classes

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "a"), ("e", "d"),
         ("c", "f"), ("f", "g"),
         ("x", "y"), ("e", "z")],
        "src string, dst string",
    )
    got = {r["node"]: r["cls"] for r in bow_tie_classes(edges).collect()}
    assert got == {"a": "core", "b": "core", "c": "core",
                   "d": "in", "e": "in", "f": "out", "g": "out",
                   "x": "tendril_or_disconnected",
                   "y": "tendril_or_disconnected",
                   "z": "tendril_or_disconnected"}
    empty = spark.createDataFrame([], "src string, dst string")
    assert bow_tie_classes(empty).collect() == []


def test_interval_join_fractional_bounds(spark):
    """ADVICE r5: fractional interval bounds must not drop memberships —
    end=100.5 covers bucket 1 (width 100), where a point t=100.2 lives."""
    from ontoemma_spark.operators.temporal import interval_join

    pts = spark.createDataFrame([(1, 100.2), (2, 50.0), (3, 100.6)], "pid int, t double")
    iv = spark.createDataFrame([(10, 0.5, 100.5)], "iid int, start double, end double")
    got = sorted(
        r["pid"] for r in interval_join(pts, iv, bucket_width=100).collect()
    )
    assert got == [1, 2]  # 100.2 and 50.0 inside [0.5, 100.5); 100.6 out
