"""Candidate selection as a distributed blocking join.

Re-expresses the reference's inverted-index candidate selector
(emma/CandidateSelection.py:14-149) as DataFrame ops:

  _generate_token_map (:46-88)  → entity_tokens(): exploded (entity_id, token)
  _build_map vocab ∩ (:105-117) → semi-joins both ways on token
  get_idf (:119-127)            → groupBy(token).countDistinct + log(N/df+1)
  select_candidates (:130-149)  → IDF-filtered equi-join on token +
                                  groupBy(s,t).sum(t_idf) + top-K window

Scale notes (100 TB design):
  * The token join is the skew-critical shuffle. The IDF floor
    (constants IDF_LIMIT, ln 20) semantically bounds fan-out: a token
    passing the filter appears in ≤ N/19 entities. Residual skew is
    handled by AQE skew-join.
  * When the target-side index fits on the driver
    (session.driver_row_cap), candidate_pairs_broadcast_index replaces
    the token join with a broadcast inverted index; above that gate it
    runs candidate_pairs.
  * KB sides of rehydration joins are broadcast (KBs ≤ 10^6 rows vs
    10^12 mentions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.functions.text import (
    EMPTY_STRINGS,
    char_ngrams,
    idf,
    normalize_string,
    tokenize,
)
from ontoemma_spark.session import gated_collect


# Entry bound of the broadcast-index probe's per-task memo (token set →
# its candidate list). An entry holds the key's tokens and three lists
# of at most top_k items: under 8 KB at the default top_k of 100, so a
# full memo stays under 16 MB per Python worker. A task whose sources
# have more distinct token sets clears the memo and starts over, which
# only costs recomputing later repeats.
PROBE_MEMO_ENTRIES = 2048


def entity_tokens(
    entities: DataFrame,
    id_col: str = "research_entity_id",
    aliases_col: str = "aliases",
    definition_col: str = "definition",
) -> DataFrame:
    """Distinct (entity_id, token) pairs per CandidateSelection.py:46-88:
    word tokens of every alias ∪ char-n-grams of normalize_string(alias)
    ∪ word tokens of the definition.

    Null guards matter: concat(NULL, ...) is NULL, which would silently
    emit ZERO tokens for an entity with a null definition or alias list
    — dropping it from candidate selection entirely."""
    alias = f"coalesce(`{aliases_col}`, {EMPTY_STRINGS})"
    word_toks = f"flatten(transform({alias}, a -> {tokenize('a')}))"
    gram = char_ngrams(normalize_string("a"), config.NGRAM_SIZE)
    gram_toks = f"flatten(transform({alias}, a -> {gram}))"
    def_toks = tokenize(f"coalesce(`{definition_col}`, '')")
    return (
        entities.selectExpr(
            f"`{id_col}` AS entity_id",
            f"explode(array_distinct(concat({word_toks}, {gram_toks}, {def_toks}))) AS token",
        )
        # a NULL entity id contributes tokens that count() then skips,
        # producing df=0 groups and a divide-by-zero in ln(N/df + 1)
        # (found by null probing). Invalid-id entities are the
        # validate_entities quarantine's job; here they are simply
        # excluded from the posting lists. Null tokens (null alias
        # elements) are dropped for the same reason.
        .filter("entity_id IS NOT NULL AND token IS NOT NULL")
    )


def token_idf(tokens: DataFrame, corpus_size: int) -> DataFrame:
    """(token, df, idf) with idf = ln(N/df + 1) (string_utils.py:17-24,
    applied at CandidateSelection.py:119-127). Input must be distinct
    (entity_id, token) pairs, so count == countDistinct."""
    return tokens.groupBy("token").agg(F.count("entity_id").alias("df")).selectExpr(
        "token", "df", f"{idf(corpus_size, 'df')} AS idf"
    )


def shared_vocabulary(s_idf: DataFrame, t_idf: DataFrame) -> DataFrame:
    """Tokens present in BOTH KBs with both idfs
    (CandidateSelection.py:105-117) — an inner join rather than two
    semi-joins so downstream reads both idf columns in one pass."""
    return s_idf.select("token", F.col("idf").alias("s_idf")).join(
        t_idf.select("token", F.col("idf").alias("t_idf")), "token"
    )


def candidate_pairs(
    s_tokens: DataFrame,
    t_tokens: DataFrame,
    s_count: int,
    t_count: int,
    idf_limit: float = config.IDF_LIMIT,
    top_k: int = config.KEEP_TOP_K_CANDIDATES,
) -> DataFrame:
    """The blocking join (CandidateSelection.py:130-149 select_candidates,
    vectorized over ALL source entities at once).

    Returns (s_id, t_id, cand_score, rank) with cand_score = Σ t_idf over
    shared above-floor tokens and rank ∈ [1, top_k] ordered by score desc
    (t_id tiebreak — the reference relies on Python sort stability;
    an explicit tiebreak makes the distributed result deterministic).

    Physical strategy, benchmarked at sf0.1 (25M-pair fan-out, local[32]):
      * plain shuffle equi-join on token + two-phase hash agg: ~21-24s
      * salted join (s salted, t replicated ×16): ~32s
      * broadcast t-index + pre-partition by s_id (zero-exchange agg
        and window): ~33-36s
    The shuffle join wins because the dominating cost is the 23M-group
    hash aggregation, which Spark balances best across its own exchange;
    AQE's skew-join handles residual token skew.
    """
    vocab = shared_vocabulary(
        token_idf(s_tokens, s_count), token_idf(t_tokens, t_count)
    ).filter((F.col("s_idf") >= idf_limit) & (F.col("t_idf") >= idf_limit))

    s = s_tokens.withColumnRenamed("entity_id", "s_id")
    t = t_tokens.withColumnRenamed("entity_id", "t_id")

    # vocab is tiny after the IDF floor → broadcast it into both probes;
    # the s⋈t exchange on token is the one real shuffle.
    s_keyed = s.join(F.broadcast(vocab.select("token", "t_idf")), "token")
    pairs = (
        s_keyed.join(t, "token")
        .groupBy("s_id", "t_id")
        .agg(F.sum("t_idf").alias("cand_score"))
    )
    w = Window.partitionBy("s_id").orderBy(F.desc("cand_score"), F.asc("t_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= top_k)


def candidate_pairs_broadcast_index(
    s_tokens: DataFrame,
    t_tokens: DataFrame,
    s_count: int,
    t_count: int,
    idf_limit: float = config.IDF_LIMIT,
    top_k: int = config.KEEP_TOP_K_CANDIDATES,
) -> DataFrame:
    """candidate_pairs with the pair fan-out eliminated: the target
    inverted index (token → postings) is broadcast as numpy arrays and
    each task computes its sources' top-K locally with a vectorized
    accumulator (np.add.at) — the 10^7-10^12-row (s, t) intermediate
    never exists, no shuffle beyond collecting per-source rows.

    This is the distributed version of the reference's own design
    (CandidateSelection.py:31-44 holds exactly this index in one dict);
    valid whenever the KB-side index fits in executor memory (KBs are
    ≤10^6 entities vs 10^12 mentions — the north-rule regime). That
    regime is ENFORCED: the index entries are collected under a
    limit(cap + 1) gate, and when they do not fit on the driver
    (session.driver_row_cap) the call falls back to the relational
    candidate_pairs plan, so a both-sides-big misuse cannot OOM the
    driver (tests/test_broadcast_index.py pins fallback identity).

    Identical output to candidate_pairs: scores are sums over shared
    tokens accumulated in ascending token order (both engines sum ≤
    dozens of doubles; ties broken by t_id). Measured at sf0.1:
    26s (shuffle plan) → ~2s.

    r6 optimization (guide §1.2 "the distributed algorithm" + §4.2):
    the probe scores TOKEN-SET CLASSES, not entities. Every target
    entity with the same above-floor token set has the same score
    against any source, and every source with the same token set has
    the same candidate list — so postings map token → class codes
    (|classes| ≤ |entities|, thousands of times smaller on vocabularies
    with repeated alias sets), each class carries only its top_k
    smallest t_ids (more can never be emitted), per-source results are
    memoized by token set, and the scatter-add uses vectorized fancy
    indexing (posting codes are unique per token, so `acc[ids] +=` is
    exact — np.add.at's duplicate-index handling, ~20x slower, is not
    needed). Scores stay bit-identical: a class accumulates the same
    idf terms in the same ascending token order an entity did, and ties
    (bit-equal sums) are broken by merging the tied classes' t_ids
    ascending — the exact (score desc, t_id asc) order of the old
    per-entity lexsort. Worst case (all token sets unique) degrades to
    the old per-entity shape, never below it. Measured at sf1.0
    (16-token vocabulary, 2.5e9 scatter-adds before): 131s → ~2s.
    """
    import numpy as np
    import pandas as pd

    spark = s_tokens.sparkSession
    vocab = shared_vocabulary(
        token_idf(s_tokens, s_count), token_idf(t_tokens, t_count)
    ).filter((F.col("s_idf") >= idf_limit) & (F.col("t_idf") >= idf_limit))
    t_keyed = t_tokens.join(F.broadcast(vocab.select("token", "t_idf")), "token")
    # The KB-small regime is ENFORCED, not assumed, by ONE gated
    # collect (session.gated_collect) of the postings entries: the rows
    # of t_keyed, one per distinct (target entity, above-floor token).
    # At most driver_row_cap + 1 of them come to the driver; over the
    # cap the call falls back to the fully relational plan — the
    # oversized index is never pulled to the driver, it spills to
    # executor disk at worst. The driver groups the entries into
    # token-set classes itself.
    entry_rows = gated_collect(t_keyed, "entity_id", "token", "t_idf")
    if entry_rows is None:
        return candidate_pairs(
            s_tokens, t_tokens, s_count, t_count,
            idf_limit=idf_limit, top_k=top_k,
        )
    idf_map: dict = {}
    entity_toks: dict = {}
    for e, tok, idf_v in entry_rows:
        idf_map[tok] = float(idf_v)
        entity_toks.setdefault(e, set()).add(tok)
    # token-set classes, each with its top_k smallest non-null t_ids
    class_members: dict = {}
    for e, toks in entity_toks.items():
        class_members.setdefault(tuple(sorted(toks)), []).append(e)
    # class postings: token → unique class codes
    class_tids: list = []
    postings_lists: dict = {}
    for ci, (toks, members) in enumerate(class_members.items()):
        t_ids = sorted(e for e in members if e is not None)[:top_k]
        class_tids.append(np.array(t_ids, dtype=object))
        for tok in toks:
            postings_lists.setdefault(tok, []).append(ci)
    postings = {
        tok: (np.array(cs, dtype=np.int64), idf_map[tok])
        for tok, cs in postings_lists.items()
    }
    bc = spark.sparkContext.broadcast((postings, class_tids))

    # EXPLICIT repartition of the probe input: AQE sizes post-shuffle
    # partitions by BYTES and cannot see the per-row Python cost of the
    # probe — at sf1.0 it coalesced the ~1MB grouped-token exchange to
    # ONE partition, serializing the whole probe on one core (measured:
    # 138s vs 10.5s with coalescing off — this was the r5
    # blocking-vs-best_match 131s/8s driver anomaly). An explicit
    # partition count is exempt from AQE coalescing.
    par = spark.sparkContext.defaultParallelism
    s_grouped = (
        s_tokens.groupBy(F.col("entity_id").alias("s_id"))
        .agg(F.array_sort(F.collect_set("token")).alias("tokens"))
        .repartition(par)
    )

    id_type = s_tokens.schema["entity_id"].dataType.simpleString()
    out_schema = f"s_id {id_type}, t_id {id_type}, cand_score double, rank int"

    memo_entries = PROBE_MEMO_ENTRIES

    def probe(batches):
        postings_l, class_tids_l = bc.value
        acc = np.zeros(len(class_tids_l), dtype=np.float64)
        memo: dict = {}
        for pdf in batches:
            out = {"s_id": [], "t_id": [], "cand_score": [], "rank": []}
            for s_id, toks in zip(pdf["s_id"], pdf["tokens"]):
                key = tuple(toks)
                res = memo.get(key)
                if res is None:
                    touched = []
                    for tok in toks:  # ascending token order (array_sort)
                        p = postings_l.get(tok)
                        if p is None:
                            continue
                        ids, idf_v = p
                        acc[ids] += idf_v  # unique codes per posting
                        touched.append(ids)
                    if touched:
                        cand = np.unique(np.concatenate(touched))
                        scores = acc[cand]
                        acc[cand] = 0.0
                        # classes by score desc; bit-equal ties merged by
                        # t_id asc — the old per-entity lexsort order
                        order = np.argsort(-scores, kind="stable")
                        t_out: list = []
                        sc_out: list = []
                        i = 0
                        while i < len(order) and len(t_out) < top_k:
                            j = i
                            v = scores[order[i]]
                            while j < len(order) and scores[order[j]] == v:
                                j += 1
                            if j == i + 1:
                                tie = class_tids_l[cand[order[i]]]
                            else:
                                tie = np.sort(
                                    np.concatenate(
                                        [class_tids_l[cand[o]] for o in order[i:j]]
                                    )
                                )
                            take = min(top_k - len(t_out), len(tie))
                            t_out.extend(tie[:take])
                            sc_out.extend([v] * take)
                            i = j
                        res = (t_out, sc_out, list(range(1, len(t_out) + 1)))
                    else:
                        res = ([], [], [])
                    if len(memo) >= memo_entries:
                        memo.clear()
                    memo[key] = res
                t_ids_r, sc_r, rk_r = res
                if t_ids_r:
                    out["s_id"].extend([s_id] * len(t_ids_r))
                    out["t_id"].extend(t_ids_r)
                    out["cand_score"].extend(sc_r)
                    out["rank"].extend(rk_r)
            yield pd.DataFrame(out)

    return s_grouped.mapInPandas(probe, schema=out_schema)
