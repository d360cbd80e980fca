"""Connected components (G7), symmetric closure (G1), BFS regions (G2),
eval metrics (J6/A4/A5)."""

import pytest

from ontoemma_spark.operators.components import connected_components
from ontoemma_spark.operators.evaluate import (
    candidates_eval_at_k,
    hard_negatives,
    missed_gold,
    precision_recall_f1,
)
from ontoemma_spark.operators.graph import bfs_region, merge_entities, symmetric_closure


def test_connected_components_two_chains_and_singleton_edgeless(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_long_chain(spark):
    # worst case for min-label propagation: a path graph
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(15)], "src string, dst string"
    )
    got = connected_components(edges).collect()
    assert all(r["component"] == "n00" for r in got)
    assert len(got) == 16


def test_symmetric_closure(spark):
    edges = spark.createDataFrame(
        [("a", "b", "PAR", False, None), ("c", "d", "xyz", False, None)],
        "subject_id string, object_id string, relation_type string, symmetric boolean, labels array<string>",
    )
    got = {
        (r["subject_id"], r["object_id"], r["relation_type"])
        for r in symmetric_closure(edges).collect()
    }
    # PAR gets reversed CHD (kb_utils_refactor.py:425-456); xyz has no inverse
    assert got == {("a", "b", "PAR"), ("b", "a", "CHD"), ("c", "d", "xyz")}


def test_bfs_region_two_hops(spark):
    edges = spark.createDataFrame(
        [("a", "b", "is_a", False, None), ("b", "c", "is_a", False, None),
         ("c", "d", "is_a", False, None), ("a", "c", "part_of", False, None)],
        "subject_id string, object_id string, relation_type string, symmetric boolean, labels array<string>",
    )
    seeds = spark.createDataFrame([("a",)], "seed string")
    got = {(r["node"]): r["path_len"] for r in bfs_region(edges, seeds, steps=2).collect()}
    # c reachable at hop 1 (direct part_of) — first-visit keeps 1
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_precision_recall_f1(spark):
    pred = spark.createDataFrame([("a", "x"), ("b", "y"), ("c", "z")], "s_id string, t_id string")
    gold = spark.createDataFrame([("a", "x"), ("b", "q"), ("d", "w"), ("b", "y")], "s_id string, t_id string")
    row = precision_recall_f1(pred, gold).collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (2, 1, 2)
    assert abs(row["precision"] - 2 / 3) < 1e-12
    assert abs(row["recall"] - 0.5) < 1e-12
    assert missed_gold(pred, gold).count() == 2


def test_candidates_eval_at_k(spark):
    cands = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "z", 1), ("z", "q", 1)],
        "s_id string, t_id string, rank int",
    )
    gold = spark.createDataFrame([("a", "y"), ("b", "z")], "s_id string, t_id string")
    rows = {r["k"]: r for r in candidates_eval_at_k(cands, gold, top_ks=[1, 2]).collect()}
    # k=1: a→x (miss), b→z (hit); source z not in gold → excluded
    assert rows[1]["cand_count"] == 2 and rows[1]["pos_count"] == 1
    assert rows[2]["cand_count"] == 3 and rows[2]["pos_count"] == 2
    assert abs(rows[2]["recall_at_k"] - 1.0) < 1e-12


def test_hard_negatives(spark):
    cands = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("a", "w", 3), ("b", "z", 1)],
        "s_id string, t_id string, rank int",
    )
    pos = spark.createDataFrame([("a", "x")], "s_id string, t_id string")
    got = [(r["s_id"], r["t_id"]) for r in hard_negatives(cands, pos, per_source=1).collect()]
    assert got == [("a", "y")]  # top-ranked non-gold for gold source a


def test_merge_entities(spark):
    ents = spark.createDataFrame(
        [
            ("KB:2", "beta", ["beta"], "dB", [], None, [], None, "k1"),
            ("KB:1", "alpha", ["alpha", "a"], "dA", [], None, [], None, "k1"),
            ("KB:3", "gamma", ["gamma"], "dC", [], None, [], None, "k2"),
        ],
        "research_entity_id string, canonical_name string, aliases array<string>, definition string,"
        " source_urls array<string>, category string, other_contexts array<string>,"
        " additional_details map<string,array<string>>, mkey string",
    )
    got = {r["mkey"]: r for r in merge_entities(ents, "mkey").collect()}
    # '|'-joined sorted distinct ids (kb_utils_refactor.py:358-362)
    assert got["k1"]["research_entity_id"] == "KB:1|KB:2"
    assert got["k1"]["aliases"] == ["a", "alpha", "beta"]
    assert got["k2"]["research_entity_id"] == "KB:3"


def test_connected_components_very_long_chain_pointer_jumping(spark):
    # 200-node path: naive min-propagation needs ~200 rounds (> the 50
    # cap); pointer jumping converges in O(log n)
    edges = spark.createDataFrame(
        [(f"p{i:03d}", f"p{i+1:03d}") for i in range(200)], "src string, dst string"
    )
    got = connected_components(edges).collect()
    assert len(got) == 201
    assert all(r["component"] == "p000" for r in got)


def test_cc_keeps_self_loop_only_nodes(spark):
    """A node whose only edge is a self-loop is a singleton component —
    it must not vanish from the labeling (regression: the symmetrized
    edge set drops self-loops, and the node universe used to be built
    from it)."""
    from ontoemma_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("c", "c")], "src string, dst string"
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges, "src", "dst").collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_pagerank_hand_cases(spark):
    """A 3-cycle holds the uniform stationary distribution through
    every iteration; a dangling chain matches the python power
    iteration exactly; ranks are deterministic under repartitioning."""
    from ontoemma_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(cycle, iterations=4).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in got.values()) and len(got) == 3

    chain = spark.createDataFrame([("a", "b")], "src string, dst string")
    # python twin of the leaky formulation
    ranks = {"a": 0.5, "b": 0.5}
    for _ in range(3):
        contrib_b = ranks["a"] / 1
        base = (1.0 - 0.85) / 2
        ranks = {"a": base, "b": base + 0.85 * contrib_b}
    got2 = {r["node"]: r["rank"] for r in pagerank(chain, iterations=3).collect()}
    assert abs(got2["a"] - ranks["a"]) < 1e-12
    assert abs(got2["b"] - ranks["b"]) < 1e-12

    big = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 50}") for i in range(200)],
        "src string, dst string",
    )
    r1 = sorted((r["node"], round(r["rank"], 10))
                for r in pagerank(big, iterations=3).collect())
    r2 = sorted((r["node"], round(r["rank"], 10))
                for r in pagerank(big.repartition(7), iterations=3).collect())
    assert r1 == r2


def test_weighted_edges_closed_form(spark):
    from ontoemma_spark.operators.graph import weighted_edges

    edges = spark.createDataFrame(
        [
            # triple T1 on page p1 twice (two sentences), p2 once
            ("a", "is_a", "b", "p1", 1),
            ("a", "is_a", "b", "p1", 3),
            ("a", "is_a", "b", "p2", 2),
            # triple T2 once
            ("c", "part_of", "d", "p1", 9),
        ],
        ["subject_id", "relation_type", "object_id", "url", "ts"],
    )
    got = {
        (r["subject_id"], r["relation_type"], r["object_id"]): r
        for r in weighted_edges(edges, ts_col="ts").collect()
    }
    t1 = got[("a", "is_a", "b")]
    assert (t1["support"], t1["n_pages"], t1["first_seen"], t1["last_seen"]) == (3, 2, 1, 3)
    t2 = got[("c", "part_of", "d")]
    assert (t2["support"], t2["n_pages"]) == (1, 1)


def test_entity_pmi_cap_and_prune(spark):
    import math

    from ontoemma_spark.operators.graph import entity_cooccurrence_pmi

    rows = (
        # docs 1,2: {a, b} -> n_ab=2
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "b")]  # dup mention collapses
        # doc 3: entities a..e with cap 3 -> only {a,b,c} pair up
        + [(3, e) for e in ["a", "b", "c", "d", "e"]]
        # doc 4: singleton pair {x, y} pruned by min_pair_count=2
        + [(4, "x"), (4, "y")]
    )
    m = spark.createDataFrame(rows, ["doc_id", "entity"])
    out = {
        (r["ent_a"], r["ent_b"]): r
        for r in entity_cooccurrence_pmi(m, max_per_doc=3, min_pair_count=2).collect()
    }
    assert ("x", "y") not in out          # pruned
    assert ("a", "d") not in out          # d capped away in doc 3
    ab = out[("a", "b")]
    # N=4 docs, n_a=3 (docs 1,2,3), n_b=3, n_ab=3
    assert ab["n_ab"] == 3
    assert abs(ab["pmi"] - math.log(3 * 4 / (3 * 3))) < 1e-9


def test_anchor_profile_topk_and_ties(spark):
    from ontoemma_spark.operators.textstats import anchor_text_profile

    links = spark.createDataFrame(
        [
            ("h1", "Best Shoes"), ("h1", "best shoes!"), ("h1", "cheap shoes"),
            ("h2", "one"),
        ],
        ["dst_host", "anchor_text"],
    )
    got = {
        (r["dst"], r["rank"]): (r["token"], r["n"])
        for r in anchor_text_profile(links, top_k=2).collect()
    }
    assert got[("h1", 1)] == ("shoes", 3)
    assert got[("h1", 2)] == ("best", 2)      # beats 'cheap' (n=2 vs 1)
    assert ("h1", 3) not in got               # top_k honored
    assert got[("h2", 1)] == ("one", 1)


def test_transitive_ancestors_chain_and_dag(spark):
    from ontoemma_spark.operators.graph import transitive_ancestors

    # chain a->b->c->d plus a DAG shortcut a->c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],
        ["child", "parent"],
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_ancestors(edges).collect()
    }
    assert got[("a", "b")] == 1
    assert got[("a", "c")] == 1          # shortcut wins over b-hop (min depth)
    assert got[("a", "d")] == 2          # via the shortcut, not 3 via b
    assert got[("b", "d")] == 2
    assert ("d", "a") not in got         # directed
    # bounded depth stops the walk
    capped = {
        (r["node"], r["ancestor"])
        for r in transitive_ancestors(edges, max_depth=1).collect()
    }
    assert capped == {("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")}
    # a 2-cycle terminates and never emits self-ancestry
    cyc = spark.createDataFrame([("x", "y"), ("y", "x")], ["child", "parent"])
    cgot = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_ancestors(cyc, max_depth=6).collect()
    }
    assert cgot == {("x", "y"): 1, ("y", "x"): 1}


def test_transitive_ancestors_random_graphs_vs_python_bfs(spark):
    """Seeded random digraphs (including cycles and self-loops) vs an
    independent per-node Python BFS spec: identical (node, ancestor,
    min-depth) closures."""
    import random
    from collections import deque

    from ontoemma_spark.operators.graph import transitive_ancestors

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(5, 14)
        edges = sorted({
            (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")
            for _ in range(rng.randint(4, 2 * n))
        })
        adj = {}
        for c, p in edges:
            if c != p:
                adj.setdefault(c, set()).add(p)
        max_depth = rng.choice([2, 3, 10])

        expected = {}
        for start in {c for c, _ in edges} | {p for _, p in edges}:
            dist = {start: 0}
            q = deque([start])
            while q:
                u = q.popleft()
                if dist[u] >= max_depth:
                    continue
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        q.append(v)
            for node, d in dist.items():
                if node != start and d >= 1:
                    expected[(start, node)] = d

        df = spark.createDataFrame(edges, ["child", "parent"])
        got = {
            (r["node"], r["ancestor"]): r["depth"]
            for r in transitive_ancestors(df, max_depth=max_depth).collect()
        }
        assert got == expected, (trial, edges, max_depth)


# ---- round 5: HITS, label propagation, predicate canonicalization,
# ---- incremental edge upsert


def _hits_spec(edges, iterations):
    """Per-round-normalized HITS reference implementation (plain
    python) — the textbook formulation the operator's end-normalized
    iterate must match up to the final rescale."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    h = {n: 1.0 for n in nodes}
    a = {n: 0.0 for n in nodes}
    for _ in range(iterations):
        a = {n: sum(h[u] for u, v in edges if v == n) for n in nodes}
        sa = sum(a.values()) or 1.0
        a = {n: x / sa for n, x in a.items()}
        h = {n: sum(a[v] for u, v in edges if u == n) for n in nodes}
        sh = sum(h.values()) or 1.0
        h = {n: x / sh for n, x in h.items()}
    return a, h


def test_hits_matches_per_round_normalized_spec(spark):
    from ontoemma_spark.operators.graph import hits

    edges = [
        ("a", "b"), ("a", "c"), ("d", "c"), ("d", "e"),
        ("b", "c"), ("e", "a"), ("c", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["authority"], r["hub"]) for r in hits(df, iterations=4).collect()}
    a, h = _hits_spec(edges, 4)
    # end-normalization equals per-round normalization for a fixed
    # iteration count; both sides sum-normalize, so compare directly
    for n in a:
        assert abs(got[n][0] - a[n]) < 1e-9, (n, got[n], a[n])
        assert abs(got[n][1] - h[n]) < 1e-9, (n, got[n], h[n])


def test_hits_bipartite_split(spark):
    from ontoemma_spark.operators.graph import hits

    df = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s2")], "src string, dst string"
    )
    rows = {r["node"]: r for r in hits(df, iterations=3).collect()}
    # pure sources have zero authority; pure sinks zero hub
    assert rows["c1"]["authority"] == 0.0 and rows["s1"]["hub"] == 0.0
    # s2 (in-degree 2, incl. the stronger hub c1) outranks s1
    assert rows["s2"]["authority"] > rows["s1"]["authority"]
    assert rows["c1"]["hub"] > rows["c2"]["hub"]
    assert abs(sum(r["authority"] for r in rows.values()) - 1.0) < 1e-9
    assert abs(sum(r["hub"] for r in rows.values()) - 1.0) < 1e-9


def _lpa_spec(directed_pairs, iterations):
    """Synchronous most-frequent-neighbor LPA spec (ties → smallest
    label), over the symmetrized edge set."""
    edges = set(directed_pairs) | {(b, a) for a, b in directed_pairs}
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    labels = {n: n for n in nodes}
    for _ in range(iterations):
        nxt = {}
        for n in nodes:
            votes = {}
            for u, v in edges:
                if v == n:
                    votes[labels[u]] = votes.get(labels[u], 0) + 1
            nxt[n] = (
                min(votes, key=lambda l: (-votes[l], l)) if votes else labels[n]
            )
        labels = nxt
    return labels


def test_label_propagation_two_triangles_with_bridge(spark):
    from ontoemma_spark.operators.graph import label_propagation

    pairs = [("1", "2"), ("2", "3"), ("1", "3"),
             ("4", "5"), ("5", "6"), ("4", "6"), ("3", "4")]
    und = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(und, "src string, dst string")
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    assert got == _lpa_spec(pairs, 4)
    # each triangle converges to one community
    assert len({got["1"], got["2"], got["3"]}) == 1
    assert len({got["4"], got["5"], got["6"]}) == 1


def test_label_propagation_random_graph_parity(spark):
    import random

    from ontoemma_spark.operators.graph import label_propagation

    rng = random.Random(11)
    pairs = list({
        (f"n{rng.randrange(30):02d}", f"n{rng.randrange(30):02d}")
        for _ in range(60)
    })
    pairs = [(a, b) for a, b in pairs if a != b]
    und = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(und, "src string, dst string")
    for iters in (1, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iters).collect()
        }
        assert got == _lpa_spec(pairs, iters), iters


def test_canonicalize_predicates_alias_inverse_passthrough(spark):
    from ontoemma_spark.operators.graph import canonicalize_predicates

    df = spark.createDataFrame(
        [
            ("A", "Is  A", "B", "u1"),      # whitespace/case noise
            ("B", "has part", "C", "u2"),   # inverse: swap + forward form
            ("C", "part_of", "B", "u3"),    # alias to the same form
            ("X", "employs", "Y", "u4"),    # inverse
            ("P", "based in", "Q", "u5"),   # alias
            ("M", "weird pred", "N", "u6"),  # unmapped: normalized only
        ],
        "subj string, pred string, obj string, url string",
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in canonicalize_predicates(df).collect()
    }
    assert got == {
        ("A", "is_a", "B", "u1"),
        ("C", "is_part_of", "B", "u2"),
        ("C", "is_part_of", "B", "u3"),
        ("Y", "works_for", "X", "u4"),
        ("P", "is_in", "Q", "u5"),
        ("M", "weird_pred", "N", "u6"),
    }
    assert canonicalize_predicates(df).columns == ["subj", "pred", "obj", "url"]


def test_canonicalize_predicates_custom_maps(spark):
    from ontoemma_spark.operators.graph import canonicalize_predicates

    df = spark.createDataFrame(
        [("a", "REL", "b")], "subj string, pred string, obj string"
    )
    # empty maps: only surface normalization applies
    got = canonicalize_predicates(df, alias_map={}, inverse_map={}).collect()[0]
    assert (got["subj"], got["pred"], got["obj"]) == ("a", "rel", "b")


def test_upsert_edges_merge_semantics(spark):
    import datetime

    from ontoemma_spark.operators.graph import upsert_edges

    d = datetime.date
    schema = (
        "subj string, pred string, obj string, support long, n_pages long,"
        " first_seen date, last_seen date"
    )
    cur = spark.createDataFrame(
        [
            ("a", "is_a", "b", 3, 2, d(2024, 1, 1), d(2024, 1, 5)),
            ("only", "cur", "row", 7, 4, d(2024, 2, 1), d(2024, 2, 2)),
        ],
        schema,
    )
    bat = spark.createDataFrame(
        [
            ("a", "is_a", "b", 1, 1, d(2023, 12, 30), d(2024, 2, 1)),
            ("new", "is_a", "row", 2, 2, d(2024, 3, 1), d(2024, 3, 1)),
        ],
        schema,
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in upsert_edges(cur, bat).collect()
    }
    both = got[("a", "is_a", "b")]
    assert both["support"] == 4 and both["n_pages"] == 3
    assert both["first_seen"] == d(2023, 12, 30)
    assert both["last_seen"] == d(2024, 2, 1)
    cur_only = got[("only", "cur", "row")]
    assert cur_only["support"] == 7 and cur_only["first_seen"] == d(2024, 2, 1)
    new_only = got[("new", "is_a", "row")]
    assert new_only["support"] == 2 and new_only["last_seen"] == d(2024, 3, 1)
    assert len(got) == 3


# ---------------------------------------------------------------------------
# HLL sketches (operators/sketch.py)
# ---------------------------------------------------------------------------


def test_hll_estimate_accuracy(spark):
    """Relative error within ~3x the theoretical 1.04/sqrt(64) ≈ 13%
    band across three magnitudes."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.sketch import hll_estimate, hll_sketch

    for n in (40, 400, 4000):
        df = spark.range(n).select(
            F.lit("k").alias("g"),
            F.concat(F.lit(f"it{n}-"), F.col("id")).alias("it"),
        )
        est = (
            hll_sketch(df, ["g"], "it")
            .select(hll_estimate("hll").alias("e"))
            .collect()[0]["e"]
        )
        assert abs(est - n) / n < 0.4, (n, est)


def test_hll_merge_equals_rebuild(spark):
    """The mergeability contract: element-wise-max of per-part sketches
    == the sketch of the union, bit-for-bit (max over a union is the
    max of per-part maxes)."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.sketch import hll_merge, hll_sketch

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 700).cast("string")).alias("it"),
        (F.col("id") % 2).alias("half"),
    )
    a = hll_sketch(df.filter(F.col("half") == 0), ["g"], "it", out_col="a")
    b = hll_sketch(df.filter(F.col("half") == 1), ["g"], "it", out_col="b")
    merged = a.join(b, "g", "full_outer").select(
        "g", hll_merge("a", "b").alias("hll")
    )
    full = hll_sketch(df, ["g"], "it")
    rows = (
        merged.alias("m")
        .join(full.alias("f"), "g")
        .select((F.col("m.hll") == F.col("f.hll")).alias("eq"))
        .collect()
    )
    assert rows and all(r["eq"] for r in rows)


def test_hll_merge_null_side_is_identity(spark):
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.sketch import hll_merge, hll_sketch

    sk = hll_sketch(
        spark.createDataFrame([("g", "x"), ("g", "y")], ["g", "it"]),
        ["g"], "it",
    )
    out = sk.select(
        (hll_merge("hll", F.lit(None).cast("array<int>")) == F.col("hll"))
        .alias("eq")
    ).collect()[0]
    assert out["eq"]


def test_upsert_edges_sketch_merge(spark):
    """upsert_edges(sketch_col=...) closes its documented n_pages gap:
    after TWO successive batch merges n_pages (sum) overcounts the
    repeated pages, while hll_estimate over the merged sketch tracks
    the true cross-batch distinct count."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.graph import upsert_edges, weighted_edges
    from ontoemma_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    n, overlap = 600, 300  # batch 2 re-crawls half of batch 1's pages

    def batch(lo: int, hi: int):
        tri = spark.range(lo, hi).select(
            F.lit("s").alias("subj"), F.lit("p").alias("pred"),
            F.lit("o").alias("obj"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            F.lit("2024-01-01").cast("date").alias("ts"),
        )
        w = weighted_edges(tri, key_cols=("subj", "pred", "obj"),
                           page_col="url", ts_col="ts")
        s = hll_sketch(tri, ["subj", "pred", "obj"], "url")
        return w.join(s, ["subj", "pred", "obj"])

    merged = upsert_edges(
        batch(0, n), batch(overlap, overlap + n), sketch_col="hll"
    )
    row = merged.select(
        "n_pages", F.round(hll_estimate("hll"), 2).alias("est")
    ).collect()[0]
    true_distinct = n + overlap + (n - overlap) - (n - overlap)  # = overlap + n
    assert row["n_pages"] == 2 * n  # the documented overcount
    assert abs(row["est"] - true_distinct) / true_distinct < 0.4


def test_hll_sketch_null_items_single_scan(spark):
    """Null items cost nothing; all-null keys get an all-zero sketch
    (estimate 0) from the SAME single-scan plan."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.sketch import hll_estimate, hll_sketch

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None)], "g string, it string"
    )
    sk = hll_sketch(df, ["g"], "it")
    got = {
        r["g"]: r["e"]
        for r in sk.select(
            "g", F.round(hll_estimate("hll"), 2).alias("e")
        ).collect()
    }
    assert set(got) == {"a", "b"}
    assert got["b"] == 0.0 and 0.5 < got["a"] < 1.5
    # single scan of the source
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("scan existingrdd") <= 1


# ---------------------------------------------------------------------------
# triangle_stats
# ---------------------------------------------------------------------------


def test_triangle_stats_k4_pendant(spark):
    """K4 + pendant: every K4 node sits in 3 triangles; the attachment
    node's clustering dilutes to 0.5; the pendant has none. Duplicate /
    reversed edges and self-loops must not change anything."""
    import itertools

    from ontoemma_spark.operators.graph import triangle_stats

    edges = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    edges += [("d", "e"), ("e", "d"), ("e", "e"), ("a", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["degree"], r["triangles"], round(r["clustering"], 4))
        for r in triangle_stats(df).collect()
    }
    assert got["a"] == (3, 3, 1.0)
    assert got["d"] == (4, 3, 0.5)
    assert got["e"] == (1, 0, 0.0)


def test_triangle_stats_random_graph_parity(spark):
    """Degree-ordered orientation vs a brute-force O(n^3) Python spec
    on a seeded random graph — every node's count must match."""
    import itertools
    import random

    from ontoemma_spark.operators.graph import triangle_stats

    rng = random.Random(11)
    es = set()
    for _ in range(200):
        u, v = rng.randrange(45), rng.randrange(45)
        if u != v:
            es.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(
        [(f"n{u}", f"n{v}") for u, v in es], ["src", "dst"]
    )
    got = {r["node"]: r["triangles"] for r in triangle_stats(df).collect()}
    adj: dict[int, set[int]] = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    spec = {f"n{v}": 0 for v in adj}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                spec[f"n{v}"] += 1
    assert got == spec


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def test_k_core_peels_chain_keeps_clique(spark):
    """K4 + pendant 3-chain: the chain peels over THREE rounds (tip
    first, each round exposing the next link); the K4 survives at k=3
    with in-core degrees. k=5 empties the graph. Fixed-round
    (early_exit=False) equals converged early-exit — the fixpoint is
    idempotent, which is what the SQL twin's fixed unroll relies on."""
    import itertools

    from ontoemma_spark.operators.graph import k_core

    edges = [(x, y) for x, y in itertools.combinations("abcd", 2)]
    edges += [("d", "p1"), ("p1", "p2"), ("p2", "p3"), ("b", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["degree"] for r in k_core(df, k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    fixed = {
        r["node"]: r["degree"]
        for r in k_core(df, k=3, max_rounds=8, early_exit=False).collect()
    }
    assert fixed == got
    assert k_core(df, k=5).collect() == []


def test_k_core_k2_drops_tree_parts(spark):
    """k=2 keeps exactly the cyclic part: a triangle with two trees
    hanging off reduces to the triangle, every survivor at degree 2."""
    from ontoemma_spark.operators.graph import k_core

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # cycle
        ("a", "t1"), ("t1", "t2"), ("t1", "t3"),  # tree
        ("z1", "z2"),                             # detached edge
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["degree"] for r in k_core(df, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


# ---------------------------------------------------------------------------
# random_walks
# ---------------------------------------------------------------------------


def test_random_walks_python_replay_parity(spark):
    """Every emitted walk must replay exactly under the md5 step rule
    over the sorted adjacency list — the determinism contract that
    makes walks reproducible across cluster layouts and engines."""
    import hashlib

    from ontoemma_spark.operators.graph import random_walks

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = random_walks(df, length=4, walks_per_node=3).collect()
    assert len(out) == 4 * 3
    adj: dict[str, list[str]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)  # type: ignore[arg-type]
        adj.setdefault(v, set()).add(u)  # type: ignore[arg-type]
    adj = {k: sorted(vs) for k, vs in adj.items()}

    def replay(walk_id: str, start: str, n: int) -> list[str]:
        cur, path = start, [start]
        for s in range(1, n + 1):
            nbrs = adj[cur]
            h = hashlib.md5(f"{walk_id}:{s}:{cur}".encode()).hexdigest()[:8]
            cur = nbrs[int(h, 16) % len(nbrs)]
            path.append(cur)
        return path

    for r in out:
        start = r["walk_id"].split("-")[1]
        assert r["path"][0] == start
        assert r["path"] == replay(r["walk_id"], start, 4)
        for a, b in zip(r["path"], r["path"][1:]):
            assert b in adj[a]  # every hop is a real edge


def test_random_walks_directed_dead_end_drops(spark):
    """symmetrize=False: walks reaching a node with no out-edges drop
    out (documented); sink-only nodes never start a walk."""
    from ontoemma_spark.operators.graph import random_walks

    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    out = random_walks(df, length=1, symmetrize=False).collect()
    got = {r["walk_id"]: r["path"] for r in out}
    assert got == {"w-a-0": ["a", "b"], "w-b-0": ["b", "c"]}
    # length 3 from 'a' dies at c (no out-edges) — nothing survives
    out3 = random_walks(df, length=3, symmetrize=False).collect()
    assert out3 == []


def test_adamic_adar_path_square_scores(spark):
    """Hand-checked fixture: path a-b-c (one wedge through b, deg 2)
    scores (a,c) = 1/ln(2); square a-b-c-d-a scores each diagonal by
    its TWO degree-2 common neighbors = 2/ln(2); existing edges never
    appear unless include_existing=True."""
    import math

    from ontoemma_spark.operators.graph import adamic_adar

    path = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    got = {(r["node_a"], r["node_b"]): r["score"]
           for r in adamic_adar(path).collect()}
    assert set(got) == {("a", "c")}
    assert abs(got[("a", "c")] - 1 / math.log(2)) < 1e-12

    sq = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    got = {(r["node_a"], r["node_b"]): r["score"]
           for r in adamic_adar(sq).collect()}
    assert set(got) == {("a", "c"), ("b", "d")}
    for v in got.values():
        assert abs(v - 2 / math.log(2)) < 1e-12

    # triangle: every wedge pair IS an existing edge -> default output
    # empty; include_existing=True keeps all three at 1/ln(2)
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    assert adamic_adar(tri).collect() == []
    kept = {(r["node_a"], r["node_b"]): r["score"]
            for r in adamic_adar(tri, include_existing=True).collect()}
    assert set(kept) == {("a", "b"), ("a", "c"), ("b", "c")}
    for v in kept.values():
        assert abs(v - 1 / math.log(2)) < 1e-12


def test_adamic_adar_max_degree_drops_hub_wedges(spark):
    """Star hub h-{x1..x5} plus edge x1-x2: uncapped, the hub centers
    C(5,2)=10 wedges; max_degree=4 excludes the hub (deg 5) so only
    the x1/x2 wedges through each other survive — the crawl-scale
    hyper-hub guard. Direction and duplicate edges don't matter."""
    from ontoemma_spark.operators.graph import adamic_adar

    edges = [("h", f"x{i}") for i in range(1, 6)] + [
        ("x1", "x2"), ("x2", "x1"), ("x2", "h")
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    uncapped = {(r["node_a"], r["node_b"]) for r in adamic_adar(df).collect()}
    assert len(uncapped) == 10 - 1  # all hub wedge pairs minus existing x1-x2
    capped = adamic_adar(df, max_degree=4).collect()
    # hub excluded as center; x1 (deg 2) and x2 (deg 2) each center a
    # wedge between their two neighbors -> (h,x2) and (h,x1) exist, so
    # nothing survives the anti-join
    assert capped == []


def test_snapshot_diff_add_remove_kept(spark):
    from ontoemma_spark.operators.graph import snapshot_diff

    old = spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "c"),
         ("s3", "p", "c")],  # dup rows collapse
        ["subj", "pred", "obj"],
    )
    new = spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "B"), ("s4", "p", "d")],
        ["subj", "pred", "obj"],
    )
    got = {(r["subj"], r["obj"]): r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        ("s1", "a"): "kept",
        ("s2", "b"): "removed", ("s2", "B"): "added",  # drift = remove+add
        ("s3", "c"): "removed",
        ("s4", "d"): "added",
    }
    # (subj, pred) granularity: drift shows as one kept-key row pair
    got2 = {(r["subj"], r["status"]) for r in
            snapshot_diff(old, new, key_cols=("subj", "pred")).collect()}
    assert got2 == {("s1", "kept"), ("s2", "kept"), ("s3", "removed"),
                    ("s4", "added")}


def test_entity_property_table_pivot_and_guards(spark):
    import pytest as _pytest

    from ontoemma_spark.operators.graph import entity_property_table

    trip = spark.createDataFrame(
        [("s1", "born_in", "x"), ("s1", "works_at", "y"),
         ("s2", "born_in", "z"), ("s2", "born_in", "w"),  # dup -> max = z
         ("s3", "likes", "q")],                            # unlisted only
        ["subj", "pred", "obj"],
    )
    out = entity_property_table(trip, ["born_in", "works_at"])
    got = {r["subj"]: (r["born_in"], r["works_at"]) for r in out.collect()}
    assert got == {"s1": ("x", "y"), "s2": ("z", None)}  # s3 absent
    with _pytest.raises(ValueError, match="non-empty"):
        entity_property_table(trip, [])
    # explicit-values pivot = ONE grouped aggregate: a single exchange.
    # Assert on a FRESH (unexecuted) frame — after execution AQE's
    # toString renders initial+final plans and double-counts.
    plan = (
        entity_property_table(trip, ["born_in", "works_at"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_degree_histogram_bins(spark):
    from ontoemma_spark.operators.graph import degree_histogram

    # hub -> x1..x5 (out-degree 5 -> bin 3), each xi -> hub (in-deg 5)
    edges = [("hub", f"x{i}") for i in range(1, 6)] + [
        (f"x{i}", "hub") for i in range(1, 6)
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r["kind"], r["bin"]): r["n_nodes"] for r in
           degree_histogram(df).collect()}
    # out: hub deg 5 (bin 3), x1..x5 deg 1 (bin 1); in mirrors it
    assert got == {("out", 3): 1, ("out", 1): 5, ("in", 3): 1, ("in", 1): 5}


def test_neighborhood_function_vs_exact_bfs(spark):
    """HyperANF estimates track exact <= h-hop reachable-set sizes on a
    seeded random digraph within the m=64 sketch error (generous 3x
    the 1.04/sqrt(64) = 13% theoretical band for tiny sets)."""
    import random

    from ontoemma_spark.operators.graph import neighborhood_function

    rnd = random.Random(7)
    edges = sorted({
        (f"v{rnd.randrange(20)}", f"v{rnd.randrange(20)}") for _ in range(45)
    })
    adj: dict[str, set] = {}
    nodes = sorted({v for e in edges for v in e})
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)

    def reach(v, hops):
        seen = {v}
        frontier = {v}
        for _ in range(hops):
            frontier = {w for u in frontier for w in adj.get(u, ())} - seen
            seen |= frontier
        return len(seen)

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r["node"], r["hop"]): r["est"]
           for r in neighborhood_function(df, rounds=2).collect()}
    assert set(got) == {(v, h) for v in nodes for h in range(3)}
    for v in nodes:
        for h in range(3):
            exact = reach(v, h)
            assert abs(got[(v, h)] - exact) <= max(1.5, 0.4 * exact), (
                v, h, exact, got[(v, h)])


def test_harmonic_centrality_vs_exact(spark):
    """Sketch-estimated harmonic centrality tracks the exact truncated
    harmonic sum (3 hops, reversed-reachability) on a seeded digraph."""
    import random

    from ontoemma_spark.operators.graph import harmonic_centrality

    rnd = random.Random(13)
    edges = sorted({
        (f"v{rnd.randrange(18)}", f"v{rnd.randrange(18)}") for _ in range(40)
    })
    radj: dict[str, set] = {}
    nodes = sorted({v for e in edges for v in e})
    for s, d in edges:
        if s != d:
            radj.setdefault(d, set()).add(s)  # reversed: who reaches v

    def exact_h(v, hops=3):
        seen, frontier, h = {v}, {v}, 0.0
        for k in range(1, hops + 1):
            frontier = {w for u in frontier for w in radj.get(u, ())} - seen
            seen |= frontier
            h += len(frontier) / k
        return h

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["centrality"]
           for r in harmonic_centrality(df, rounds=3).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        exact = exact_h(v)
        assert abs(got[v] - exact) <= max(1.5, 0.4 * exact), (v, exact, got[v])


def test_r5_review_graph_guards(spark):
    """Round-5 review regressions: pagerank on an empty edge table
    returns an empty frame (not ZeroDivisionError); hits refuses
    iterations=0 loudly; merge_entities keeps the FIRST member's name
    by id order, not the alphabetically smallest name."""
    import pytest as _pytest

    from ontoemma_spark.operators.graph import hits, merge_entities, pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iterations=3).collect() == []
    with _pytest.raises(ValueError, match="iterations"):
        hits(spark.createDataFrame([("a", "b")], ["src", "dst"]), iterations=0)

    ents = spark.createDataFrame(
        [("B", "Apple", ["x"], "d", [], None, [], None, "k"),
         ("A", "Zebra", ["y"], "d", [], None, [], None, "k")],
        "research_entity_id string, canonical_name string, aliases array<string>,"
        " definition string, source_urls array<string>, category string,"
        " other_contexts array<string>,"
        " additional_details map<string,array<string>>, mkey string",
    )
    got = merge_entities(ents, "mkey").collect()[0]
    assert got["canonical_name"] == "Zebra"  # name of min id 'A'


def test_scc_and_bow_tie_ignore_null_endpoints(spark):
    """ADVICE r5: a null src/dst must not enter the node universe (it
    previously re-settled every round until the loud-but-misleading
    'did not settle' bound)."""
    from ontoemma_spark.operators.components import (
        bow_tie_classes,
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", None), (None, "b"), (None, None)],
        "src string, dst string",
    )
    scc = {r["node"]: r["component"]
           for r in strongly_connected_components(edges).collect()}
    assert scc == {"a": "a", "b": "a"}
    bt = {r["node"]: r["cls"] for r in bow_tie_classes(edges).collect()}
    assert bt == {"a": "core", "b": "core"}


def test_cc_unionfind_fast_path_equals_distributed(spark, broadcast_off):
    """r6: the guarded driver-side union-find fast path must label
    exactly like the distributed hash-min loop — chains, self-loops,
    nulls, string ids and all."""
    from ontoemma_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [
            ("d", "c"), ("c", "b"), ("b", "a"),          # chain -> min 'a'
            ("x", "x"),                                   # self-loop singleton
            ("m", None), (None, "n"), (None, None),       # null endpoints
            ("q", "r"), ("r", "q"),                       # cycle
        ],
        "src string, dst string",
    )
    fast = {(r["node"], r["component"])
            for r in connected_components(edges).collect()}
    with broadcast_off():
        slow = {(r["node"], r["component"])
                for r in connected_components(edges).collect()}
    assert fast == slow
    assert ("a", "a") in fast and ("d", "a") in fast and ("x", "x") in fast


def test_scc_and_bowtie_fast_paths_equal_distributed(spark, broadcast_off):
    """r6: guarded Tarjan/BFS fast paths must label exactly like the
    distributed FW-BW coloring + sentinel propagation."""
    from ontoemma_spark.operators.components import (
        bow_tie_classes,
        strongly_connected_components,
    )

    # two SCC rings, a DAG edge between them, IN/OUT periphery,
    # a self-loop-only node, a disconnected pair
    rows = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),     # ring A (core: 3 nodes)
        ("b1", "b2"), ("b2", "b1"),                    # ring B
        ("a1", "b1"),                                   # DAG A -> B
        ("p", "a1"),                                    # IN
        ("b2", "q"),                                    # OUT
        ("s", "s"),                                     # self-loop singleton
        ("u", "v"),                                     # tendril pair
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    fast_scc = {(r["node"], r["component"])
                for r in strongly_connected_components(edges).collect()}
    fast_bt = {(r["node"], r["component"], r["cls"])
               for r in bow_tie_classes(edges).collect()}
    # the gate is session-derived, so bow_tie's inner SCC goes
    # distributed too
    with broadcast_off():
        slow_scc = {(r["node"], r["component"])
                    for r in strongly_connected_components(edges).collect()}
        slow_bt = {(r["node"], r["component"], r["cls"])
                   for r in bow_tie_classes(edges).collect()}
    assert fast_scc == slow_scc
    assert fast_bt == slow_bt
    cls = {n: c for n, _, c in fast_bt}
    assert cls["a1"] == "core" and cls["p"] == "in" and cls["q"] == "out"
    assert cls["s"] == "tendril_or_disconnected"


def test_pagerank_hits_broadcast_and_partitioned_plans_agree(spark, broadcast_off):
    """Both sides of the pagerank/hits gate: the broadcast rank-table
    plan (rank table fits under the session threshold) and the
    co-partitioned edge cache + shuffle_hash plan (threshold -1) give
    the same scores."""
    from ontoemma_spark.operators.graph import hits, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b"),
         ("e", "a"), ("b", "a")],
        "src string, dst string",
    )

    def run():
        pr = {r["node"]: r["rank"]
              for r in pagerank(edges, iterations=4).collect()}
        ht = {r["node"]: (r["authority"], r["hub"])
              for r in hits(edges, iterations=4).collect()}
        return pr, ht

    small_pr, small_ht = run()
    with broadcast_off():
        big_pr, big_ht = run()
    assert set(small_pr) == set(big_pr) == set("abcde")
    for v in small_pr:
        assert small_pr[v] == pytest.approx(big_pr[v], abs=1e-12), v
        assert small_ht[v] == pytest.approx(big_ht[v], abs=1e-12), v
