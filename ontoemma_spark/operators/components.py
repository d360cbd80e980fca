"""Canonicalization: iterative hash-min connected components (SURVEY.md
§2.10 G7). Semantic heir of the reference's merge_entities canonical-id
union (emma/kb/kb_utils_refactor.py:340-412, sorted-joined raw ids) —
the match graph's component id becomes the canonical entity id.

Algorithm: classic min-label propagation. Each round every node takes
min(own label, neighbor labels); converges in O(diameter) rounds. Each
round is one shuffle on node id; localCheckpoint truncates lineage so the
plan does not grow (critical for 10^12-node graphs; on a cluster this
would be a reliable checkpoint to HDFS/Iceberg instead).

Skew: head nodes (appearing in millions of edges) are handled by the
symmetric edge representation — messages aggregate per node with a
map-side partial min, so a hot node's inbox combines before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.session import gated_collect


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, component) with component = min node id (string order) in
    the node's connected component. Edges are treated as undirected.

    r6 fast path (guide §1.2 step 1): the edge list is collected in one
    job when it fits on the driver (session.gated_collect, which takes
    at most driver_row_cap + 1 edges) and labeled by driver-side
    union-find — the hash-min loop schedules several shuffle jobs per
    round, which on the pair graphs this operator actually sees (LSH
    survivors, alignment links: orders of magnitude smaller than the
    corpus) is pure fixed overhead. The gated collect has the same
    legitimacy as a broadcast hash join's build side: bounded by
    construction, and the distributed loop below remains the over-cap
    path, unchanged.
    Identical labels: union-find tracks the MIN id per set with the
    same comparison order (UTF-8 binary == code-point order) and the
    same null/self-loop conventions (a null endpoint never joins; a
    self-loop-only node is its own singleton).
    """
    e_small = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edge_rows = gated_collect(e_small, "a", "b")
    if edge_rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != x:
                parent[x], x = r, parent[x]
            return r

        has_null = False
        for a, b in edge_rows:
            if a is None or b is None:
                has_null = True
            for v in (a, b):
                if v is not None and v not in parent:
                    parent[v] = v
            if a is None or b is None or a == b:
                continue
            ra, rb = find(a), find(b)
            if ra != rb:
                # min id becomes the root — the hash-min label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(v, find(v)) for v in parent]
        if has_null:
            # the distributed node universe keeps a NULL node (its
            # component is NULL) — preserve that exactly
            rows.append((None, None))
        spark = edges.sparkSession
        node_t = edges.schema[src].dataType.simpleString()
        return spark.createDataFrame(
            rows, schema=f"node {node_t}, component {node_t}"
        )
    sym = (
        e_small.union(e_small.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # node universe from the ORIGINAL edges, not the symmetrized ones:
    # sym drops self-loops (a != b), and a node whose only edge is a
    # self-loop must still appear as its own singleton component
    # (caught by edge probing — it silently vanished before).
    labels = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(config.CC_MAX_ITERATIONS):
        # neighbor-label messages; partial min combines map-side.
        msgs = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(msgs, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
            (
                F.col("nbr_component").isNotNull()
                & (F.col("nbr_component") < F.col("component"))
            ).alias("changed"),
        )
        # pointer jumping (label ← label-of-label): compresses chains so
        # convergence is O(log diameter) rounds instead of O(diameter) —
        # the difference between 40 and 10^6 rounds on long match chains.
        parent = propagated.select(
            F.col("node").alias("component"), F.col("component").alias("grand")
        ).groupBy("component").agg(F.min("grand").alias("grand"))
        new_labels = (
            propagated.join(parent, "component", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("grand", F.col("component"))).alias(
                    "component"
                ),
                "changed",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            return labels
    # silent non-convergence would split one component across several
    # canonical ids — fail loudly instead.
    raise RuntimeError(
        f"connected_components did not converge in {config.CC_MAX_ITERATIONS} "
        "rounds (graph diameter exceeds the bound); raise config.CC_MAX_ITERATIONS"
    )


def _min_reach_labels_bidir(
    edges: DataFrame, nodes: DataFrame, seed_col: str | None = None,
) -> DataFrame:
    """(node, label, blabel): label = min node id that can REACH node
    along directed edges, blabel = min node id node can reach (both
    including node itself). The forward and backward propagations are
    the SAME fixpoint on a direction-tagged union (dir='f' walks edges,
    dir='b' walks them reversed), so both run in ONE loop — half the
    per-iteration job count of two separate loops, which at toy scale
    is half the wall-clock (fixed job overhead dominates) and at
    cluster scale halves the scheduling rounds. Min-label propagation
    is accelerated by transitive compression (label ← label-of-label
    within the same direction): if m reaches v and k reaches m then k
    reaches v, giving O(log diameter) convergence like the undirected
    pointer jumping above.

    seed_col: optional column ON `nodes` holding the initial label
    (default the node id). SOUNDNESS CONSTRAINT for the compression
    step: every seed value must be either the node's own id or a
    sentinel that is NOT any node's id (label-of-label assumes a label
    value that looks like a node id IS a node that reached here —
    bow_tie_classes' below-everything core sentinel satisfies this,
    arbitrary relabels would not).
    """
    edges2 = edges.select("src", "dst", F.lit("f").alias("dir")).union(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.lit("b").alias("dir"),
        )
    )
    labels = (
        nodes.select(
            "node",
            F.explode(F.array(F.lit("f"), F.lit("b"))).alias("dir"),
            (F.col("node") if seed_col is None else F.col(seed_col)).alias(
                "label"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(config.CC_MAX_ITERATIONS):
        msgs = (
            edges2.join(labels.withColumnRenamed("node", "src"), ["src", "dir"])
            .groupBy(F.col("dst").alias("node"), "dir")
            .agg(F.min("label").alias("nbr"))
        )
        stepped = labels.join(msgs, ["node", "dir"], "left").select(
            "node", "dir",
            F.least(F.col("label"), F.coalesce("nbr", F.col("label"))).alias("label"),
            F.col("label").alias("_old"),
        )
        # transitive compression: label ← label of label (per direction)
        thru = stepped.select(
            F.col("node").alias("label"), "dir", F.col("label").alias("grand")
        ).groupBy("label", "dir").agg(F.min("grand").alias("grand"))
        new_label = F.least(F.col("label"), F.coalesce("grand", F.col("label")))
        jumped = (
            stepped.join(thru, ["label", "dir"], "left")
            .select(
                "node", "dir", new_label.alias("label"),
                # changed flag carried in-plan: one count on the
                # checkpointed frame, no extra self-join per iteration
                (new_label != F.col("_old")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = jumped.filter("_changed").limit(1).count()
        labels = jumped.drop("_changed")
        if changed == 0:
            return (
                labels.groupBy("node")
                .pivot("dir", ["f", "b"])
                .agg(F.first("label"))
                .select("node", F.col("f").alias("label"), F.col("b").alias("blabel"))
            )
    raise RuntimeError(
        "directed min-label propagation did not converge in "
        f"{config.CC_MAX_ITERATIONS} rounds; raise config.CC_MAX_ITERATIONS"
    )


def _tarjan_components(node_list: list, adj: dict) -> dict:
    """Iterative Tarjan SCC over an adjacency dict; returns
    node → min id of its SCC. Deterministic regardless of traversal
    order (the representative is the set minimum, not the root)."""
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = [0]
    for start in node_list:
        if start in index:
            continue
        work = [(start, iter(adj.get(start, ())))]
        index[start] = low[start] = counter[0]
        counter[0] += 1
        stack.append(start)
        on_stack.add(start)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                rep = min(members)
                for w in members:
                    comp[w] = rep
    return comp


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """(node, component) over a DIRECTED graph, component = min node id
    in the node's strongly connected component. The web-graph shape:
    link farms / mutually-citing clusters are SCCs; the bow-tie DAG
    around the giant SCC is singletons.

    Forward-backward min-coloring (the distributed-SCC family of Orzan
    2004 / Hong et al. 2013, relational form): per outer round, over
    the still-unsettled subgraph compute fwd(v) = min id that reaches v
    and bwd(v) = min id v reaches (two min-label propagations, each
    O(log diameter) via transitive compression). fwd(v) = bwd(v) = m
    certifies v ∈ SCC(m) (m reaches v and v reaches m); every SCC whose
    min-reaching id lies inside it settles this round. Settled nodes
    and their edges drop out; repeat. A one-pass degree trim settles
    source/sink singletons (in- or out-degree 0) before each coloring —
    at web scale the IN/OUT bow-tie lobes are shallow, so the observed
    outer-round count is small (the giant SCC settles in round 1); a
    pathological depth-D id-ordered DAG chain needs D rounds, bounded
    by ``max_rounds`` with a loud failure, never a silent partial
    answer.

    Each propagation step is one shuffle with map-side partial min;
    localCheckpoint truncates lineage per step (cluster: durable
    checkpoint). Output covers every node present in ``edges``
    (self-loops contribute the node as a singleton-or-member, never a
    dropped row).
    """
    # ADVICE r5: a null endpoint would enter the node universe (union/
    # distinct keeps NULL) but every null-unsafe anti-join below fails
    # to remove it, so it re-settles every round and the loop exhausts
    # max_rounds with a misleading "did not settle". Null endpoints
    # carry no reachability information — drop them up front, consistent
    # with upsert_edges/fusion's explicit null handling.
    edges = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    live = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r6 fast path (same gated-collect pattern as connected_components'
    # union-find): live is already deduped and materialized, so its
    # gated collect is cheap; when it fits on the driver the SCC runs as
    # driver-side iterative Tarjan — the FW-BW coloring loop schedules
    # dozens of shuffle jobs per outer round, pure fixed overhead on the
    # small distinct link graphs this sees. Identical labels (component = min
    # SCC member; self-loop-only nodes are singletons via the node
    # universe). Above the cap: the distributed loop below, unchanged.
    live_rows = gated_collect(live, "src", "dst")
    if live_rows is not None:
        from collections import defaultdict

        adj = defaultdict(list)
        for a, b in live_rows:
            adj[a].append(b)
        node_list = [r["node"] for r in nodes.collect()]
        comp = _tarjan_components(node_list, adj)
        spark = edges.sparkSession
        node_t = edges.schema[src].dataType.simpleString()
        return spark.createDataFrame(
            [(v, comp[v]) for v in node_list],
            schema=f"node {node_t}, component {node_t}",
        )
    # seed with an empty, correctly-typed part so zero-edge input
    # returns an empty (node, component) frame instead of crashing
    done_parts: list[DataFrame] = [
        nodes.withColumn("component", F.col("node")).limit(0)
    ]

    for _ in range(max_rounds):
        if nodes.limit(1).count() == 0:
            break
        # trim: a node with no in-edges or no out-edges (within the live
        # subgraph) is its own SCC — settles DAG periphery cheaply.
        has_in = live.select(F.col("dst").alias("node")).distinct()
        has_out = live.select(F.col("src").alias("node")).distinct()
        trimmed = nodes.join(has_in, "node", "left_anti").union(
            nodes.join(has_out, "node", "left_anti")
        ).distinct()
        done_parts.append(
            trimmed.withColumn("component", F.col("node")).localCheckpoint(eager=True)
        )
        nodes = nodes.join(trimmed, "node", "left_anti").localCheckpoint(eager=True)
        if nodes.limit(1).count() == 0:
            break
        live = (
            live.join(trimmed.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(trimmed.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )

        both = _min_reach_labels_bidir(live, nodes)
        settled = (
            both.filter(F.col("label") == F.col("blabel"))
            .select("node", F.col("label").alias("component"))
            .localCheckpoint(eager=True)
        )
        if settled.limit(1).count() == 0:  # pragma: no cover — defensive
            raise RuntimeError("SCC coloring made no progress (bug)")
        done_parts.append(settled)
        nodes = both.join(settled, "node", "left_anti").select("node").localCheckpoint(
            eager=True
        )
        live = (
            live.join(settled.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(settled.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nodes.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"strongly_connected_components did not settle in {max_rounds} "
            "rounds (DAG periphery deeper than the bound); raise max_rounds"
        )

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.union(part)
    return out.select("node", "component")


BOW_TIE_SENTINEL = "\x00"


def bow_tie_classes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Broder et al. (2000) bow-tie anatomy of a directed link graph:
    every node classified as

      core     — member of the LARGEST strongly connected component
                 (ties broken by min component id, deterministically),
      in       — reaches the core but is not in it,
      out      — reached from the core but not in it,
      tendril_or_disconnected — neither.

    The first structural question asked of any crawl snapshot (is the
    core shrinking? did a bad extraction round inflate IN?).

    Composition, all bounded-iteration relational ops: SCC labels →
    core pick (one 1-row argmax to the driver) → ONE bidirectional
    min-label propagation seeded with a below-everything sentinel on
    core nodes ("\\x00" — guarded against colliding with a real node
    id): the forward label reaching v turns sentinel iff core reaches
    v (OUT side), the backward label iff v reaches core (IN side) —
    O(log diameter) rounds via the same transitive compression as SCC,
    instead of an O(diameter) frontier BFS from the core.

    Output: (node, component, cls). Empty input → empty output.
    """
    scc = strongly_connected_components(edges, src=src, dst=dst).localCheckpoint(
        eager=True
    )
    top = (
        scc.groupBy("component")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
        .collect()
    )
    if not top:
        return scc.withColumn("cls", F.lit(""))
    core_id = top[0]["component"]
    if scc.filter(F.col("node") == BOW_TIE_SENTINEL).limit(1).count():
        raise ValueError(
            "a node id equals the reserved bow-tie sentinel (chr 0)"
        )
    seeded = scc.withColumn(
        "_seed",
        F.when(F.col("component") == core_id, F.lit(BOW_TIE_SENTINEL))
        .otherwise(F.col("node")),
    )
    live = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        # null endpoints carry no reachability (same rule as SCC's
        # universe above — ADVICE r5)
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r6 fast path (same gated-collect pattern as SCC's Tarjan): on a
    # small distinct link graph the IN/OUT sides are two plain BFS
    # closures from the core, replacing a multi-round distributed
    # min-label propagation. Exact same classification: forward
    # reachability from the core ⟺ the sentinel-seeded forward label,
    # backward ⟺ the backward label. Above the cap: the distributed
    # propagation, unchanged. The inner SCC call above applies the same
    # gate to the same edges.
    live_rows = gated_collect(live, "src", "dst")
    if live_rows is not None:
        from collections import defaultdict, deque

        fwd = defaultdict(list)
        bwd = defaultdict(list)
        for a, b in live_rows:
            fwd[a].append(b)
            bwd[b].append(a)
        labels = [(r["node"], r["component"]) for r in scc.collect()]
        core = {n for n, c in labels if c == core_id}

        def closure(adjm):
            seen = set(core)
            q = deque(core)
            while q:
                v = q.popleft()
                for w in adjm.get(v, ()):
                    if w not in seen:
                        seen.add(w)
                        q.append(w)
            return seen

        out_side = closure(fwd)
        in_side = closure(bwd)
        rows = []
        for n, c in labels:
            if c == core_id:
                cls = "core"
            elif n in in_side:
                cls = "in"
            elif n in out_side:
                cls = "out"
            else:
                cls = "tendril_or_disconnected"
            rows.append((n, c, cls))
        spark = edges.sparkSession
        node_t = edges.schema[src].dataType.simpleString()
        return spark.createDataFrame(
            rows, schema=f"node {node_t}, component {node_t}, cls string"
        )
    reach = _min_reach_labels_bidir(live, seeded, seed_col="_seed")
    sent = F.lit(BOW_TIE_SENTINEL)
    return scc.join(reach, "node").select(
        "node",
        "component",
        F.when(F.col("component") == core_id, F.lit("core"))
        .when(F.col("blabel") == sent, F.lit("in"))
        .when(F.col("label") == sent, F.lit("out"))
        .otherwise(F.lit("tendril_or_disconnected"))
        .alias("cls"),
    )
