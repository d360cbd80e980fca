"""Graph-shaped KB operators: symmetric closure, bounded BFS regions,
neighborhood similarity propagation, entity merge.

Reference:
  add_symmetric_relations  emma/kb/kb_utils_refactor.py:425-456
  _get_region_around_ent   emma/OntoEmma.py:452-478
  _compute_neighborhood_similarities emma/OntoEmma.py:631-681
  merge_entities           emma/kb/kb_utils_refactor.py:340-412
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.session import driver_row_cap


def symmetric_closure(edges: DataFrame) -> DataFrame:
    """Add the reversed edge with the inverse relation type for every
    relation whose type has a defined inverse (kb_utils_refactor.py:425-456,
    SYMMETRIC_RELATIONS constants.py:66-73); dedupe."""
    inverse_map = config.SYMMETRIC_RELATIONS
    mapping = F.create_map(*[F.lit(x) for kv in inverse_map.items() for x in kv])
    reversed_edges = (
        edges.filter(F.col("relation_type").isin(list(inverse_map.keys())))
        .select(
            F.col("object_id").alias("subject_id"),
            F.col("subject_id").alias("object_id"),
            mapping[F.col("relation_type")].alias("relation_type"),
        )
    )
    base = edges.select("subject_id", "object_id", "relation_type")
    return base.union(reversed_edges).distinct()


def bfs_region(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = config.NEIGHBORHOOD_GENERATION_STEPS,
) -> DataFrame:
    """Bounded BFS (OntoEmma.py:452-478): from each seed, entities
    reachable in ≤ `steps` directed hops, with hop distance. Returns
    (seed, node, path_len); the seed itself has path_len 0. First-visit
    semantics (shortest hop wins), matching the reference's
    `if next_ent not in regions` guard."""
    frontier = seeds.select(F.col("seed"), F.col("seed").alias("node")).withColumn(
        "path_len", F.lit(0)
    )
    visited = frontier
    e = edges.select(F.col("subject_id").alias("node"), F.col("object_id").alias("next_node"))
    for step in range(1, steps + 1):
        nxt = (
            frontier.join(e, "node")
            .select("seed", F.col("next_node").alias("node"))
            .withColumn("path_len", F.lit(step))
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .dropDuplicates(["seed", "node"])
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def neighborhood_similarity(
    scores: DataFrame,
    s_regions: DataFrame,
    t_regions: DataFrame,
    iterations: int = 0,
) -> DataFrame:
    """Neighborhood score propagation (OntoEmma.py:631-681): each
    iteration REPLACES every pair's score with the distance-weighted
    mean of scored neighbor pairs at equal path length,
    Σ(w·s)/Σw with w = exp(-(l1+l2)/2) (:666-677) — the pair itself is
    included via the 0-hop region entry (weight 1), and a pair with no
    qualifying neighbors gets 0.0 (:671-674). The reference's align()
    calls this with iterations=0 — identity — matching its default.
    Regions: (seed, node, path_len) including the seed at path_len 0."""
    out = scores
    for _ in range(iterations):
        nbr = (
            out.join(s_regions.withColumnRenamed("seed", "s_id").withColumnRenamed("node", "s_nbr"), "s_id")
            .join(
                t_regions.withColumnRenamed("seed", "t_id")
                .withColumnRenamed("node", "t_nbr")
                .withColumnRenamed("path_len", "t_path_len"),
                "t_id",
            )
            .filter(F.col("path_len") == F.col("t_path_len"))
            .join(
                out.select(
                    F.col("s_id").alias("s_nbr"),
                    F.col("t_id").alias("t_nbr"),
                    F.col("score").alias("nbr_score"),
                ),
                ["s_nbr", "t_nbr"],
            )
            # weight = exp(-(l1+l2)/2) (OntoEmma.py:480-488); equal lengths here.
            .withColumn("w", F.exp(-(F.col("path_len") + F.col("t_path_len")) / F.lit(2.0)))
            .groupBy("s_id", "t_id")
            .agg((F.sum(F.col("w") * F.col("nbr_score")) / F.sum("w")).alias("nbr_avg"))
        )
        out = (
            out.join(nbr, ["s_id", "t_id"], "left")
            .select(
                "s_id",
                "t_id",
                F.coalesce("nbr_avg", F.lit(0.0)).alias("score"),
            )
        )
    return out


def merge_entities(entities: DataFrame, merge_key: str) -> DataFrame:
    """Merge duplicate entities (kb_utils_refactor.py:340-412): canonical
    id = '|'-joined sorted distinct raw ids (:358-362), aliases unioned,
    definitions concatenated, first canonical name by id order kept."""
    return entities.groupBy(merge_key).agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list("research_entity_id"))), "|"
        ).alias("research_entity_id"),
        # name of the FIRST member by id order (the documented
        # reference rule), not the alphabetically smallest name
        F.min_by("canonical_name", "research_entity_id").alias("canonical_name"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
        F.array_join(F.array_sort(F.collect_set("definition")), " ").alias("definition"),
    )


# rounds between localCheckpoints of pagerank's and hits' iterates
CHECKPOINT_EVERY = 8


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """Fixed-iteration power-method PageRank over a directed edge list
    — the iterative-join sibling of connected_components, for ranking
    head entities in the materialized KG (no reference counterpart;
    beyond-reference graph analytics).

      r_0(v)    = 1/N
      r_k+1(v)  = (1-d)/N + d * Σ_{(u,v)∈E} r_k(u) / outdeg(u)

    Dangling nodes (no out-edges) leak their mass — the simple leaky
    formulation, chosen because it is bit-reproducible in plain SQL
    (the oracle unrolls the same iterations); pass a symmetrized edge
    list if every node should keep rank. N is ONE driver-side count
    (a scalar, not data). Returns (node, rank) after `iterations`
    rounds.

    Scale shape: per iteration ONE equi join (ranks ⋈ out-weighted
    edges on src) + ONE groupBy(dst) with a map-side-combinable sum;
    edge out-degrees are computed once and persisted with the edges.

    The rank table is localCheckpoint(eager)ed every CHECKPOINT_EVERY
    rounds. Unlike CC's unbounded frontier loop (which must checkpoint
    each round), a FIXED iteration count composes into one bounded DAG
    — measured at sf0.1, per-round checkpointing cost 10x wall clock
    (one scheduled job + materialization per round) vs letting Spark
    run the composed plan as a single job. The checkpoint only cuts in
    for long runs, where it bounds Catalyst plan depth and gives
    failure-recovery points."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if dedupe:
        # duplicate edge rows would double-count contributions; callers
        # whose edge list is distinct by construction pass dedupe=False
        # and skip a full shuffle of the edge table
        e = e.distinct()
    # persist e: BOTH nodes and weighted materialize from it — without
    # this cache the caller's edge build (typically a multi-million-row
    # join over the source tables) executes twice before the first
    # iteration even starts (r6, guide §5 caching-for-reuse)
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    # nodes joins ranks EVERY round — without the cache its whole
    # upstream lineage (the caller's edge build, often a join over the
    # source tables) re-executes once per iteration
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    par = edges.sparkSession.sparkContext.defaultParallelism
    weighted = None
    try:
        n = nodes.count()
        if n == 0:
            # empty crawl slice: an empty (node, rank) frame, not a
            # driver-side ZeroDivisionError mid-pipeline
            return nodes.withColumn("rank", F.lit(0.0)).limit(0)
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        # Scale-adaptive per-round join strategy (r6): while the
        # (node, rank) table fits under the session's autoBroadcast
        # threshold (session.driver_row_cap), Catalyst broadcasts it, and
        # the per-round join moves no data — forcing shuffle_hash there
        # DISABLES that broadcast (measured 1.3x slower at sf0.1), and a
        # key-partitioned edge cache buys nothing a broadcast join does
        # not already give. Above it the rank table is too big to
        # broadcast: pre-partition the edge cache ONCE on the per-round
        # join key with an EXPLICIT partition count (guide §2.4; a bare
        # repartition("src") is AQE-coalescible, and a coalesced cache
        # partitioning no longer satisfies the per-round join) and hint
        # shuffle_hash so only the rank table shuffles per round and the
        # cached edges are never re-sorted by SMJ (guide §3.1).
        big = n > driver_row_cap(ranks, "node", "rank")
        w = e.join(outdeg, "src")
        if big:
            w = w.repartition(par, "src")
        weighted = w.persist(StorageLevel.MEMORY_AND_DISK)
        base = (1.0 - damping) / n
        for it in range(iterations):
            contribs = (
                weighted.join(
                    ranks.hint("shuffle_hash") if big else ranks,
                    weighted["src"] == ranks["node"],
                )
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("m"))
            )
            ranks = nodes.join(
                contribs, nodes["node"] == contribs["dst"], "left"
            ).select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0))).alias("rank"),
            )
            if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < iterations:
                ranks = ranks.localCheckpoint(eager=True)
        # the final checkpoint is unconditional: it materializes the
        # whole composed DAG in ONE job while nodes/weighted are still
        # cached, making the returned table self-contained before the
        # finally releases those caches
        return ranks.localCheckpoint(eager=True)
    finally:
        if weighted is not None:
            weighted.unpersist()
        nodes.unpersist()
        e.unpersist()


def weighted_edges(
    edges: DataFrame,
    key_cols: tuple[str, ...] = ("subject_id", "relation_type", "object_id"),
    page_col: str = "url",
    ts_col: str | None = None,
) -> DataFrame:
    """KG edge consolidation: collapse per-page (subj, pred, obj)
    emissions into ONE weighted edge per distinct triple — support
    count, distinct-page support, first/last observation — the
    materialize-stage shape of the north-rule pipeline (a 10^12-page
    crawl emits the same popular triple from millions of pages; the
    node/edge tables store it once, weighted).

    Scale: ONE aggregate, no self-join. `support`/min/max are
    algebraic — the hash aggregate partial-applies them map-side, so
    the exchange carries one row per (partition, triple) and a head
    triple ("Paris is-a city") costs ~n_partitions rows, not n_pages.
    The distinct-page count rides the same aggregate as
    count_distinct: Catalyst rewrites it into the Expand + two-phase
    shape whose FIRST phase keys on (triple, page) — a head triple's
    pages spread across the cluster instead of one reducer (the same
    skew-spreading property as distinct-then-count) — and whose second
    phase is map-side combinable. An earlier two-aggregates-plus-join
    formulation produced the same rows with an extra exchange, two
    sorts, and a SortMergeJoin; one grouped pass replaces all of it.
    """
    keys = list(key_cols)
    aggs = [F.count(F.lit(1)).alias("support")]
    if ts_col is not None:
        aggs += [
            F.min(ts_col).alias("first_seen"),
            F.max(ts_col).alias("last_seen"),
        ]
    aggs.append(F.count_distinct(F.col(page_col)).alias("n_pages"))
    return edges.groupBy(*keys).agg(*aggs)


def entity_cooccurrence_pmi(
    mentions: DataFrame,
    doc_col: str = "doc_id",
    ent_col: str = "entity",
    max_per_doc: int = 64,
    min_pair_count: int = 1,
) -> DataFrame:
    """Entity co-occurrence PMI over per-document mention sets — the
    statistical edge-weighting signal KG pipelines attach alongside
    extracted triples (entities that co-occur far above chance are
    related even when no pattern fired).

    pmi(a,b) = ln(n_ab * N / (n_a * n_b)) over documents, where N is
    the doc count AFTER the per-doc cap.

    Scale guards, in order: (1) per-doc distinct() bounds repeat
    mentions; (2) a deterministic per-doc cap (first `max_per_doc`
    entities by name) bounds the self-join fan-out at
    C(max_per_doc, 2) pairs per doc — without it one mega-doc listing
    10^5 entities emits 10^10 pairs, the same output-cardinality
    blow-up as an uncapped LSH band; (3) `min_pair_count` prunes the
    long singleton tail before the join against marginals. The
    marginal table and the scalar N are broadcast (entity vocabulary
    and 1 row — tiny next to the pair table).

    `capped` (the distinct+window pass, the expensive stage) feeds
    both pair sides, the marginals, and the doc count — persisted
    MEMORY_AND_DISK so one action runs it once, not 5x (lazy result,
    the caller owns materialization)."""
    from pyspark import StorageLevel

    ents = mentions.select(doc_col, ent_col).distinct()
    capped = (
        ents.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(doc_col).orderBy(ent_col)
            ),
        )
        .filter(F.col("_rk") <= max_per_doc)
        .drop("_rk")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_total = capped.select(
        F.count_distinct(doc_col).alias("n_docs")
    )
    marginals = capped.groupBy(ent_col).agg(
        F.count(F.lit(1)).alias("n_ent")
    )
    a = capped.select(
        F.col(doc_col).alias("_doc"), F.col(ent_col).alias("ent_a")
    )
    b = capped.select(
        F.col(doc_col).alias("_doc"), F.col(ent_col).alias("ent_b")
    )
    pairs = (
        a.join(b, "_doc")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    m_a = F.broadcast(
        marginals.select(F.col(ent_col).alias("ent_a"), F.col("n_ent").alias("n_a"))
    )
    m_b = F.broadcast(
        marginals.select(F.col(ent_col).alias("ent_b"), F.col("n_ent").alias("n_b"))
    )
    return (
        pairs.join(m_a, "ent_a")
        .join(m_b, "ent_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "ent_a", "ent_b", "n_ab",
            # multiply in DOUBLE: bigint n_ab * n_docs wraps past 2^63
            # at the 10^12-doc scale this module targets (any head pair
            # with n_ab > ~9e6), silently NaN-ing the log; doubles lose
            # nothing that survives the log anyway
            F.log(
                F.col("n_ab").cast("double") * F.col("n_docs").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("pmi"),
        )
    )


def transitive_ancestors(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_depth: int = 10,
) -> DataFrame:
    """Bounded transitive closure over a hierarchy: (node, ancestor,
    depth) with depth = BFS distance (minimal hop count). The ontology
    subsumption rollup — "all is_a ancestors of every concept" — that
    KG consumers ask of the materialized graph (the reference walks
    relations breadth-first per entity in _get_region_around_ent,
    emma/OntoEmma.py:452-478; this is the whole-graph set-at-a-time
    equivalent, like connected_components is for its match graph).

    Frontier BFS, one equi-join per level: frontier_{d+1} = frontier_d
    ⋈ edges, anti-joined against the accumulated closure so each
    (node, ancestor) pair is emitted at its FIRST (= minimal) depth —
    this also terminates cycles without a visited-per-path structure.
    Per-level localCheckpoint truncates the union lineage (the CC
    discipline); the early-exit count on the checkpointed frontier is
    one cheap job per level. Depth is bounded by `max_depth`, so the
    worst case is max_depth joins; real ontology hierarchies are
    shallow (MeSH ~13, SNOMED ~30), and the closure's output size
    |nodes| x avg-ancestors is the true cost driver, not the rounds."""
    base = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("ancestor"))
        .filter(F.col("node") != F.col("ancestor"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hop = base.select(
        F.col("node").alias("_via"), F.col("ancestor").alias("_anc")
    )
    closure = base.withColumn("depth", F.lit(1))
    frontier = closure
    for d in range(2, max_depth + 1):
        nxt = (
            frontier.join(hop, frontier["ancestor"] == hop["_via"])
            .select("node", F.col("_anc").alias("ancestor"))
            .filter(F.col("node") != F.col("ancestor"))
            .distinct()
            .join(closure.select("node", "ancestor"), ["node", "ancestor"], "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return closure


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = True,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over a directed edge list
    — the hub/authority complement to `pagerank` for the web-graph side
    of the crawl (beyond-reference graph analytics; no reference
    counterpart).

      a_k+1(v) = Σ_{(u,v)∈E} h_k(u)      h_k+1(u) = Σ_{(u,v)∈E} a_k+1(v)

    Per-iteration global normalization only rescales both vectors by a
    scalar, and every later iterate is linear in the previous one — so
    for a FIXED iteration count the normalized result equals the
    unnormalized iterate normalized ONCE at the end. That keeps each
    round a pure two-join/two-agg dataflow (no driver-side scalar
    collect between rounds, no broken composed DAG) and makes the SQL
    twin an exact unroll. Doubles hold the growth: values reach at most
    (max_deg)^(2k), ~1e30 for deg 1000 / k=5, far inside double range.
    Returns (node, authority, hub), each vector sum-normalized to 1.

    Scale shape: per iteration ONE equi join (hubs ⋈ edges on src) +
    ONE map-side-combinable sum for authorities, then the mirror pair
    for hubs; the edge table is persisted once and reused every round.
    Same composed-DAG discipline as `pagerank` (CHECKPOINT_EVERY)."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if dedupe:
        e = e.distinct()
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    par = edges.sparkSession.sparkContext.defaultParallelism
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    big = False
    e_src = e_dst = e
    try:
        # Scale-adaptive per-round join strategy (r6) — same gate and
        # rationale as `pagerank`: while the rank tables fit under the
        # autoBroadcast threshold they broadcast and the per-round joins
        # move no data, so the plain cached edge table is optimal; above
        # it, keep TWO
        # key-partitioned cached copies (guide §2.4: the authority
        # half-step joins on src, the hub half-step on dst — each copy's
        # cache partitioning satisfies its join, so only the node-sized
        # rank tables shuffle per round), with an EXPLICIT partition
        # count (a bare repartition(key) is AQE-coalescible) and a
        # shuffle_hash hint so the cached edges stream unsorted instead
        # of being re-sorted every round by SMJ (guide §3.1). Costs one
        # extra cached copy of the edge list; saves 2 edge-table
        # exchanges per iteration.
        hubs = nodes.withColumn("hub", F.lit(1.0))
        big = nodes.count() > driver_row_cap(hubs, "node", "hub")
        if big:
            e_src = e.repartition(par, "src").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            e_dst = e.repartition(par, "dst").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        # SPARSE iteration: a missing row in hubs/auths means 0.0, and
        # zero entries contribute nothing to the next round's sums — so
        # the per-round dense zero-fill (a left join against `nodes`)
        # is algebraically redundant inside the loop. Iterating only
        # the nonzero entries halves the joins per round (2 instead of
        # 4, measured 12.4 s → ~half at sf0.1) and shrinks every
        # intermediate table; the dense zero-filled view is
        # reconstructed ONCE at the end for presentation.
        if iterations < 1:
            raise ValueError(
                "hits requires iterations >= 1 (the authority vector "
                "only exists after a half-step; there is no meaningful "
                "round-0 state to return)"
            )
        auths = None
        for it in range(iterations):
            auths = (
                e_src.join(
                    hubs.hint("shuffle_hash") if big else hubs,
                    e_src["src"] == hubs["node"],
                )
                .groupBy("dst")
                .agg(F.sum("hub").alias("authority"))
                .withColumnRenamed("dst", "node")
            )
            hubs = (
                e_dst.join(
                    auths.hint("shuffle_hash") if big else auths,
                    e_dst["dst"] == auths["node"],
                )
                .groupBy("src")
                .agg(F.sum("authority").alias("hub"))
                .withColumnRenamed("src", "node")
            )
            if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < iterations:
                hubs = hubs.localCheckpoint(eager=True)
                auths = auths.localCheckpoint(eager=True)
        # materialize the whole iteration DAG ONCE; the normalization
        # sums and the returned table both read the checkpointed rows
        # (an un-checkpointed agg().collect() would execute the full DAG
        # for the sums and then AGAIN for the result — measured 2x).
        # The single end densification: every graph node gets a row,
        # absent sparse entries coalesce to the 0.0 they stand for.
        out = (
            nodes.join(auths, "node", "left")
            .join(hubs, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
        # single end normalization (see above): two scalar sums in ONE
        # pass over the small (node, authority, hub) table
        sums = out.agg(
            F.sum("authority").alias("sa"), F.sum("hub").alias("sh")
        ).collect()[0]
        sa = sums["sa"] or 1.0
        sh = sums["sh"] or 1.0
        return out.select(
            "node",
            (F.col("authority") / F.lit(sa)).alias("authority"),
            (F.col("hub") / F.lit(sh)).alias("hub"),
        )
    finally:
        if big:
            e_src.unpersist()
            e_dst.unpersist()
        e.unpersist()
        nodes.unpersist()


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection over an undirected edge list — pass a
    symmetrized table; each directed row (u, v) means "v hears u's
    label". Deterministic variant: every node starts labeled with its
    own id; each round it adopts the most frequent label among its
    neighbors, ties broken by the lexicographically smallest label;
    isolated-in-this-direction nodes keep their label. Fixed iteration
    count (synchronous LPA on bipartite-ish structures can oscillate —
    a bounded round count is the standard production guard and makes
    the SQL twin an exact unroll). Returns (node, label).

    Scale shape: per round ONE equi join (labels ⋈ edges on src) + ONE
    (dst, label) count agg (map-side combinable — a community's votes
    partial-aggregate before the exchange) + ONE per-node argmax via
    min(struct(-cnt, label)) — no window, no sort. Head communities
    skew the (dst, label) key no worse than the (dst) key AQE already
    handles."""
    from pyspark import StorageLevel

    # cached pre-partitioned on the per-round join key with an explicit
    # count (guide §2.4; same discipline as pagerank/hits): the edge
    # table crosses the network once, only the label table shuffles per
    # round, and the shuffle_hash hint keeps the cached edges streaming
    # unsorted (guide §3.1)
    par = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(par, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        labels = nodes.withColumn("label", F.col("node"))
        for _ in range(iterations):
            votes = (
                e.join(labels.hint("shuffle_hash"), e["src"] == labels["node"])
                .groupBy(F.col("dst"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            picked = (
                votes.groupBy("dst")
                .agg(
                    F.min(
                        F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                    ).alias("top")
                )
                .select(F.col("dst"), F.col("top.label").alias("new_label"))
            )
            labels = nodes.join(
                picked, nodes["node"] == picked["dst"], "left"
            ).select(
                "node",
                F.coalesce(F.col("new_label"), F.col("node")).alias("label"),
            )
        return labels.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        nodes.unpersist()


def canonicalize_predicates(
    triples: DataFrame,
    alias_map: dict[str, str] | None = None,
    inverse_map: dict[str, str] | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Predicate canonicalization for extracted triples — the
    relation-normalization step between extraction and edge
    consolidation (the KG-side analog of the reference's relation-type
    normalization, kb_utils_refactor.py:425-456, generalized to open
    predicate surface forms).

    Three narrow rewrites, in order:
      1. surface normalization: lower, trim, whitespace runs → '_'
         ("Is  Part Of" → "is_part_of");
      2. alias folding: a small curated surface→canonical map
         ("part_of" → "is_part_of") applied as an in-row literal map
         (create_map) — the alias vocabulary is curated and tiny, so it
         compiles into the expression instead of costing a join;
      3. inverse folding: predicates listed in `inverse_map` swap
         subject and object and take the canonical forward form
         ("has_part": B has_part A → A is_part_of B), so one relation
         never materializes under two directions.

    Everything is per-row (zero shuffle); dedup/weighting is the
    caller's next step (`weighted_edges`). Extra columns pass through
    unchanged — inverse folding swaps only the subj/obj cells."""
    alias_map = alias_map if alias_map is not None else config.PREDICATE_ALIASES
    inverse_map = (
        inverse_map if inverse_map is not None else config.PREDICATE_INVERSES
    )
    norm = F.regexp_replace(F.trim(F.lower(F.col(pred))), r"\s+", "_")
    if alias_map:
        amap = F.create_map(*[F.lit(x) for kv in alias_map.items() for x in kv])
        norm = F.coalesce(amap[norm], norm)
    if inverse_map:
        imap = F.create_map(*[F.lit(x) for kv in inverse_map.items() for x in kv])
        is_inv = imap[norm].isNotNull()
        out = triples.withColumn("_cpred", norm).select(
            *[
                F.when(is_inv, F.col(obj)).otherwise(F.col(subj)).alias(subj)
                if c == subj
                else F.when(is_inv, F.col(subj)).otherwise(F.col(obj)).alias(obj)
                if c == obj
                else F.coalesce(imap[F.col("_cpred")], F.col("_cpred")).alias(pred)
                if c == pred
                else F.col(c)
                for c in triples.columns
            ]
        )
        return out
    return triples.withColumn(pred, norm)


def upsert_edges(
    current: DataFrame,
    batch: DataFrame,
    key_cols: tuple[str, ...] = ("subj", "pred", "obj"),
    sketch_col: str | None = None,
) -> DataFrame:
    """Incremental KG edge merge: fold a new crawl batch's weighted
    edges (the `weighted_edges` shape — support, n_pages, first_seen,
    last_seen) into the standing edge table. The production ingest
    shape at 10^12 pages: each crawl produces a batch table ~10^4×
    smaller than the corpus-wide edge table; merging must never rescan
    or re-aggregate the standing table's history.

      support    := sum of both sides        (additive)
      n_pages    := sum of both sides        (upper bound after the
                    first merge — exact cross-batch distinctness needs
                    sketch state per edge: pass `sketch_col`)
      first_seen := min(both)   last_seen := max(both)

    When `sketch_col` names an HLL register-array column (built with
    operators.sketch.hll_sketch over the edge's page urls), it is
    merged element-wise-max (sketch.hll_merge) — associative and
    commutative, so any sequence of batch merges equals the sketch of
    the full union and `hll_estimate(sketch_col)` stays an (accurate,
    ~1.04/sqrt(m) relative error) distinct-page count while n_pages
    drifts into an upper bound. Null sides behave as empty sketches.

    Scale shape: ONE full-outer equi join on the triple key. When both
    sides are stored as tables bucketed by the same key, the join is
    exchange-free on the (large) standing side; the result is written
    back bucketed, so every subsequent merge stays co-located. No
    window, no union-regroup over history; the sketch merge is in-row
    (HLL_M = 64 ints per edge — 256 B)."""
    from ontoemma_spark.operators import sketch as SK

    keys = list(key_cols)
    vals = ["support", "n_pages", "first_seen", "last_seen"]
    if sketch_col is not None:
        vals.append(sketch_col)
    c = current.select(*keys, *vals).alias("c")
    b = batch.select(*keys, *vals).alias("b")
    zero = F.lit(0).cast("long")
    out = [
        (
            F.coalesce(F.col("c.support"), zero)
            + F.coalesce(F.col("b.support"), zero)
        ).alias("support"),
        (
            F.coalesce(F.col("c.n_pages"), zero)
            + F.coalesce(F.col("b.n_pages"), zero)
        ).alias("n_pages"),
        F.least(F.col("c.first_seen"), F.col("b.first_seen")).alias("first_seen"),
        F.greatest(F.col("c.last_seen"), F.col("b.last_seen")).alias("last_seen"),
    ]
    if sketch_col is not None:
        out.append(
            SK.hll_merge(F.col(f"c.{sketch_col}"), F.col(f"b.{sketch_col}")).alias(
                sketch_col
            )
        )
    # null-SAFE key equality: weighted_edges keeps null-key groups
    # (groupBy treats NULL as a group), and a null-unsafe full outer
    # never matches them — the same null-key edge would duplicate into
    # the state on every merge instead of folding
    cond = None
    for k in keys:
        this = F.col(f"c.{k}").eqNullSafe(F.col(f"b.{k}"))
        cond = this if cond is None else cond & this
    key_out = [
        F.coalesce(F.col(f"c.{k}"), F.col(f"b.{k}")).alias(k) for k in keys
    ]
    return c.join(b, cond, "full_outer").select(*key_out, *out)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """Diff two KG snapshots at triple granularity: which facts a crawl
    added, removed, or kept — the audit table every incremental KG
    publish ships next to the new snapshot (and the input to change
    feeds / cache invalidation downstream).

    Output: key columns + status ∈ {added, removed, kept}. A functional
    predicate whose object drifted shows as one removed + one added row
    (diff at (subj, pred) granularity by passing key_cols without
    "obj", at which point duplicate (s,p) rows must be pre-collapsed —
    see resolve_functional).

    Scale shape: ONE full-outer equi join on the key, the same
    bucketing contract as upsert_edges — snapshots written bucketed by
    the key diff exchange-free. Non-key columns are deliberately NOT
    carried (provenance lives on the snapshots; the diff is the
    smallest possible audit row).
    """
    keys = list(key_cols)
    o = old.select(*keys).distinct().withColumn("_o", F.lit(1)).alias("o")
    n = new.select(*keys).distinct().withColumn("_n", F.lit(1)).alias("n")
    # null-SAFE key equality: a null-obj triple present in both
    # snapshots is KEPT, not phantom added+removed (distinct() already
    # treats nulls as equal; the join must agree)
    cond = None
    for k in keys:
        this = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = this if cond is None else cond & this
    return o.join(n, cond, "full_outer").select(
        *[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys],
        F.when(F.col("_o").isNull(), F.lit("added"))
        .when(F.col("_n").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


def entity_property_table(
    triples: DataFrame,
    predicates: list[str],
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Wide property-table materialization: one row per subject, one
    column per listed (functional) predicate — the layout RDF stores
    call a property table and every KG-backed feature join wants
    (probe once, get all attributes; no per-predicate self-joins).

    pivot with EXPLICIT values is one grouped aggregate with map-side
    partial max — no distinct-predicates discovery job, no shuffle per
    predicate. max(obj) makes the pick deterministic when upstream
    left duplicate objects on a functional predicate (the principled
    resolution is resolve_functional upstream; max here is the
    documented tie-break, never a silent arbitrary row). Unlisted
    predicates are filtered BEFORE the aggregate so the shuffle
    carries only requested facts; subjects with none of the listed
    predicates don't appear.
    """
    if not predicates:
        raise ValueError("predicates must be a non-empty explicit list")
    return (
        triples.filter(F.col(pred_col).isin(predicates))
        .groupBy(F.col(subj_col))
        .pivot(pred_col, predicates)
        .agg(F.max(obj_col))
    )


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Log2-binned in/out-degree distribution — the first sanity plot
    of any crawl graph (power-law tail, hub inflation after a bad
    extraction round, dedup regressions all show up here first).

    Output: (kind 'in'|'out', bin, n_nodes) where bin = number of
    binary digits of the degree (floor(log2)+1: degree 1 → bin 1,
    2-3 → 2, 4-7 → 3, …). Binning uses conv(degree, 10, 2) string
    length, not float log2 — integer-exact at every power-of-two
    boundary on both engines (float log2 is the classic off-by-one at
    53-bit mantissa edges; same lesson as the HLL rank computation).

    Scale shape: two stacked map-side-combinable aggregates (degree
    per node, then nodes per bin) over a union that Spark evaluates as
    one pass per side; output is ~64 rows regardless of graph size.
    """
    ends = edges.select(
        F.col(src).alias("node"), F.lit("out").alias("kind")
    ).unionAll(edges.select(F.col(dst).alias("node"), F.lit("in").alias("kind")))
    deg = ends.groupBy("kind", "node").agg(F.count("*").alias("degree"))
    return (
        deg.withColumn(
            "bin", F.length(F.conv(F.col("degree"), 10, 2)).cast("bigint")
        )
        .groupBy("kind", "bin")
        .agg(F.count("*").alias("n_nodes"))
    )


def neighborhood_function(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HyperANF (Boldi-Rosa-Vigna 2011): per-node, per-hop
    neighborhood-function estimates — |{u : dist(v→u) <= h}| for
    h = 0..rounds — via HLL registers propagated with element-wise
    max along out-edges. THE way to estimate reachable-set sizes and
    effective diameter on a web graph: exact per-node BFS is
    O(V·E); this is `rounds` equi-joins over V rows of m-int
    sketches, every aggregate map-side combinable.

    Correctness identity (what the oracle twin checks): max is
    associative/commutative/idempotent, so registers propagated h
    times EQUAL the registers built directly over the exact <= h-hop
    reachable set — the estimate after round h is literally
    hll_estimate(reachable-set sketch), error ~1.04/sqrt(m).

    Output: (node, hop, est) for every node and hop 0..rounds; hop 0
    estimates the singleton {v} (1.0 by linear counting). Per-round
    state is localCheckpointed (the CC lineage contract). The
    element-wise-max aggregate runs as m max() columns — map-side
    partials, one shuffle per round, never a collect.
    """
    from ontoemma_spark.operators import sketch as SK

    m = SK.HLL_M
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    regs = SK.hll_sketch(nodes, ["node"], "node").localCheckpoint(eager=True)

    def est(df, hop):
        return df.select(
            "node",
            F.lit(hop).cast("bigint").alias("hop"),
            F.round(SK.hll_estimate(F.col("hll")), 4).alias("est"),
        )

    outs = [est(regs, 0)]
    for h in range(1, rounds + 1):
        msgs = e.join(regs.withColumnRenamed("node", "dst"), "dst").select(
            F.col("src").alias("node"), "hll"
        )
        regs = (
            regs.unionByName(msgs)
            .select("node", *[F.col("hll")[i].alias(f"_r{i}") for i in range(m)])
            .groupBy("node")
            .agg(*[F.max(f"_r{i}").alias(f"_r{i}") for i in range(m)])
            .select(
                "node",
                F.array(*[f"_r{i}" for i in range(m)]).cast("array<int>").alias("hll"),
            )
            .localCheckpoint(eager=True)
        )
        outs.append(est(regs, h))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out


def harmonic_centrality(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Approximate harmonic centrality (Boldi-Vigna, "Axioms for
    Centrality": the one centrality satisfying all three axioms) via
    HyperANF: H(v) = Σ_u 1/dist(u→v) ≈ Σ_h (N̂(v,h) − N̂(v,h−1))/h,
    truncated at `rounds` hops — the standard in-core estimator for
    web-scale graphs where exact all-pairs distances are hopeless.

    Distance direction: centrality counts nodes that REACH v, so the
    sketch propagation runs over reversed edges (HyperANF's N(v,h)
    here = |{u : dist(u→v) <= h}|). Everything is plain column math
    over neighborhood_function's output — one extra groupBy(node) sum,
    no new propagation machinery. Estimates inherit the sketch error
    (~1.04/sqrt(m) per hop count).

    Output: (node, centrality) rounded to 4 (libm-drift convention).
    """
    nf = neighborhood_function(
        edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")),
        rounds=rounds,
    )
    w = Window.partitionBy("node").orderBy("hop")
    contrib = nf.select(
        "node", "hop",
        ((F.col("est") - F.lag("est", 1).over(w)) / F.col("hop")).alias("_c"),
    ).filter(F.col("hop") > 0)
    return contrib.groupBy("node").agg(
        F.round(F.sum("_c"), 4).alias("centrality")
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    an undirected graph given as an edge list (direction and
    duplicates ignored; self-loops dropped) — the web-graph cohesion
    metric alongside `pagerank`/`hits` (beyond-reference analytics).

    Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
    standard MapReduce triangle scheme). Canonicalize each edge to an
    unordered pair, then orient u→v iff (deg(u), u) < (deg(v), v) in
    the composite order. The oriented graph is a DAG in which every
    triangle {x,y,z} (π-sorted) appears EXACTLY once as the path
    x→y→z plus the closing edge x→z — so counting is:

      wedges  = oriented ⋈ oriented  on (e1.dst = e2.src)
      closed  = wedges   ⋈ oriented  on (x, z)          (equi!)

    Why orientation matters at 10^12-page web scale: out-degree in the
    π-order is bounded by O(sqrt(|E|)) even for hub nodes (a node
    beats only nodes of ≥ its degree, and there can be at most
    2·sqrt(m) of those), so a 10^8-degree hub contributes wedges
    quadratic in sqrt(m), not in its raw degree — the unoriented
    neighbor self-join would be quadratic in 10^8. Both joins are
    equi-joins; AQE handles residual band skew.

    Returns (node, degree, triangles, clustering) — clustering =
    2T / d(d-1), 0.0 when d < 2. Isolated endpoints of self-loops are
    excluded entirely (no edges survive).

    `und`, `deg`, and `oriented` are each consumed by 2-3 downstream
    branches; without persists Catalyst inlines the subtree per
    consumer and the base edge table is scanned ~10x per action (the
    round-4 extract-union lesson). All three are persisted
    MEMORY_AND_DISK and left persisted because the returned DataFrame
    is lazy — the caller owns materialization (same contract as
    dedup.ngram_shingles)."""
    from pyspark import StorageLevel

    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    keyed = und.join(du, "u").join(dv, "v")
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("d"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e1 = oriented.select(F.col("s").alias("x"), F.col("d").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("d").alias("z"))
    wedges = e1.join(e2, "y")
    closing = oriented.select(
        F.col("s").alias("x"), F.col("d").alias("z"), F.lit(1).alias("_c")
    )
    tri = wedges.join(closing, ["x", "z"]).select("x", "y", "z")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce(F.col("triangles"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 20,
    src: str = "src",
    dst: str = "dst",
    early_exit: bool = True,
) -> DataFrame:
    """k-core of an undirected graph (direction/duplicates ignored,
    self-loops dropped): iteratively peel nodes of degree < k until
    none remain — the standard cohesion filter for trimming crawl-graph
    periphery (pendant chains, isolated clusters) before expensive
    analytics like `triangle_stats` or community detection.

    Returns (node, degree) for surviving nodes, degree measured INSIDE
    the core. Peeling converges in at most `max_rounds` rounds (a
    pendant chain of length L needs L rounds); the fixpoint is
    idempotent, so running extra rounds never changes the result —
    which is what lets the SQL oracle unroll a fixed round count while
    the operator early-exits on convergence.

    Scale shape per round: ONE map-side-combinable degree aggregate
    over the current edge set + TWO left-anti equi joins against the
    (small, shrinking) peeled-node set — broadcast-sized after round 1
    for real graphs, since each round only removes the newly exposed
    periphery. The edge set is localCheckpoint-ed per round (the same
    unbounded-iteration lineage discipline as connected_components);
    `early_exit=False` runs exactly max_rounds for bit-reproducible
    fixed-round comparisons."""
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(cur: DataFrame) -> DataFrame:
        return (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(max_rounds):
        bad = degrees(e).where(F.col("degree") < k).select("node")
        if early_exit and bad.isEmpty():
            break
        e = (
            e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return degrees(e)


def random_walks(
    edges: DataFrame,
    length: int = 4,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    symmetrize: bool = True,
) -> DataFrame:
    """Deterministic uniform random walks over the graph — the
    training-corpus generator for DeepWalk/node2vec-style KG
    embeddings (each walk is a "sentence" of node tokens for a
    skip-gram model). Returns (walk_id, path array<node>), path[0] =
    the start node, |path| = length + 1 ALWAYS: a walk that hits a
    dead end (possible only when symmetrize=False — sink nodes) is
    DROPPED, not truncated (pinned by
    test_random_walks_directed_dead_end_drops). Classic DeepWalk keeps
    the truncated prefix instead; here fixed-length rows keep the
    step-exact unrolled SQL twin and downstream batching simple, and
    the default symmetrize=True has no dead ends. Callers on directed
    graphs who need sink-adjacent coverage should symmetrize or add
    self-loops at sinks.

    Determinism (the reproducibility contract every other operator
    here honors — no Math.random, identical output on any cluster
    layout): step s of walk w at node v moves to neighbor
    index md5(w ':' s ':' v) % degree(v), with neighbor indices
    assigned by row_number over the sorted adjacency list. The same
    md5/conv idiom as the Bloom/HLL sketches keeps it replayable in
    the DuckDB oracle.

    Scale shape: the adjacency index is ONE row_number window
    partitioned by node (bounded per-partition by degree — the
    standard adjacency build) + ONE degree agg, both persisted across
    steps; each step is then exactly TWO equi joins (degree lookup,
    (node, idx) neighbor lookup) over the walk frontier, which stays
    at |V| * walks_per_node rows regardless of step count. No
    explode-to-quadratic anywhere; hub adjacency lists spread across
    the cluster by the (node, idx) key."""
    from pyspark import StorageLevel

    a, b = F.col(src), F.col(dst)
    e = edges.select(a.alias("s"), b.alias("d")).where(F.col("s") != F.col("d"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
    e = e.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    nbrs = e.select(
        F.col("s").alias("node"),
        F.col("d").alias("nbr"),
        (
            F.row_number().over(Window.partitionBy("s").orderBy("d")) - 1
        ).alias("idx"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        walks = deg.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("i"),
            F.col("node"),
        ).select(
            F.concat_ws("-", F.lit("w"), F.col("node"), F.col("i")).alias(
                "walk_id"
            ),
            F.col("node").alias("cur"),
            F.array(F.col("node")).alias("path"),
        )
        for s in range(1, length + 1):
            pick = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("walk_id"), F.lit(f":{s}:"), F.col("cur")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("deg")
            )
            walks = (
                walks.join(deg, walks["cur"] == deg["node"])
                .withColumn("_idx", pick)
                .join(
                    nbrs,
                    (walks["cur"] == nbrs["node"]) & (F.col("_idx") == nbrs["idx"]),
                )
                .select(
                    "walk_id",
                    F.col("nbr").alias("cur"),
                    F.concat(F.col("path"), F.array(F.col("nbr"))).alias("path"),
                )
            )
        # a walk whose current node has no out-neighbors drops out of
        # the inner joins above (dead end, symmetrize=False only) —
        # the documented drop-not-truncate contract; every surviving
        # row has the full length
        return walks.select("walk_id", "path").localCheckpoint(eager=True)
    finally:
        e.unpersist()
        nbrs.unpersist()
        deg.unpersist()


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    include_existing: bool = False,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: score
    candidate pairs (x, z) by their common neighbors, each neighbor y
    weighted 1/ln(deg(y)) — the KG-completion primitive that proposes
    missing edges for the materialized graph (hubs are discounted:
    sharing "Wikipedia" says little, sharing a degree-3 node says a
    lot). Returns (node_a, node_b, score) with node_a < node_b;
    existing edges are anti-joined away unless include_existing=True.

    Scale shape: ONE wedge self-join through the common neighbor
    (equi on y) + one map-side-combinable sum per pair + one anti
    equi join. The wedge fan-out is quadratic in deg(y) — the same
    blow-up every pairwise-similarity operator here guards (LSH
    max_band_df, n-gram max_gram_df) — so `max_degree` drops
    hyper-hub intermediates BEFORE the join: at crawl scale a
    degree-10^7 hub would emit 10^14 wedges while contributing at
    most 1/ln(10^7) ≈ 0.06 per pair, the standard cap-the-hubs
    approximation (and the cap is exact-izable: rows dropped are
    exactly those through capped hubs, which the oracle replays).
    Deduped canonical pairs keep each wedge once: y's neighbor list
    generates ordered pairs n1 < n2.

    `und` feeds the adjacency union twice plus the final anti-join,
    and `adj` feeds both wedge sides — persisted MEMORY_AND_DISK so
    one action scans the base edges once, not ~6x (lazy result, the
    caller owns materialization)."""
    from pyspark import StorageLevel

    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # adjacency as (center y, neighbor n) both directions
    half = und.select(F.col("u").alias("y"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("y"), F.col("u").alias("n"))
    )
    deg = half.groupBy("y").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.where(F.col("deg") >= 2)
    if max_degree is not None:
        centers = centers.where(F.col("deg") <= max_degree)
    adj = (
        half.join(centers, "y")
        .withColumn("w", 1.0 / F.log(F.col("deg").cast("double")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n1 = adj.select("y", F.col("n").alias("node_a"), "w")
    n2 = adj.select("y", F.col("n").alias("node_b"))
    pairs = (
        n1.join(n2, "y")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.sum("w").alias("score"))
    )
    if include_existing:
        return pairs
    return pairs.join(
        und.select(
            F.col("u").alias("node_a"), F.col("v").alias("node_b")
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
