"""Driver-contract demo queries: every implemented operator from
SURVEY.md §2 demonstrated over the TPC-H-ish testdata tables, each with
an exact ANSI-SQL (DuckDB) oracle.

Design rules for oracle parity (the driver hash-compares values):
  * identical column names/aliases in both engines;
  * integers cast to BIGINT on both sides;
  * doubles rounded to 6 (or 4) decimals on both sides;
  * only constructs with identical semantics in Spark SQL and DuckDB
    (md5, lead/row_number windows, ln, concat_ws, list/array filters);
  * shared constants (stopword list, lang profiles, thresholds) are
    literalized into the SQL from the same Python objects — no drift.

Each query's docstring cites the SURVEY §2 operator ids it covers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED
from ontoemma_spark.functions.text import canonicalize, normalize_string, tokenize
from ontoemma_spark.operators import dedup as D
from ontoemma_spark.operators import textstats as T
from ontoemma_spark.operators.ann import cosine_scores_vs_query
from ontoemma_spark.operators.components import connected_components
from ontoemma_spark.operators.graph import symmetric_closure
from ontoemma_spark.operators.strategy import best_alignment

# ---------------------------------------------------------------------------
# shared constants (Python is the single source of truth; SQL literals are
# generated from these)
# ---------------------------------------------------------------------------

DEMO_IDF_LIMIT = 2.0794415416798357  # ln(8); the reference ln(20) floor would
# void the 16-token part-name vocabulary — same predicate, demo-scaled value.
BLOCK_TOP_K = 10
SHINGLE_W = 2
NUM_MINHASHES = 4
LSH_BANDS = 2  # 2 rows per band: collision prob 1-(1-j²)² — the
# precision knob; 1-row bands made every doc sharing one min-shingle
# collide (quadratic buckets on a small vocabulary)
JACCARD_MIN = 0.5
EVENT_PRIORITY = ["signup", "purchase", "click", "view", "error"]  # TTY-rank analog

_STOP_LIST_SQL = "[" + ",".join("'" + w.replace("'", "''") + "'" for w in ENGLISH_STOPWORDS_SORTED) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# 1. kb_normalize — P1 (normalize_kb), F1/F2/F3 (clean/normalize/tokenize)
# ---------------------------------------------------------------------------

def q_kb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F1/F2/F3: per-entity normalization projection (SURVEY §2.2)."""
    part = _t(spark, sf_dir, "part")
    return part.selectExpr(
        "CAST(p_partkey AS BIGINT) AS entity_id",
        f"{normalize_string('p_name')} AS norm_name",
        f"{canonicalize('p_name')} AS canon_name",
        f"CAST(size({tokenize('p_name')}) AS BIGINT) AS n_tokens",
    )


SQL_KB_NORMALIZE = f"""
SELECT CAST(p_partkey AS BIGINT) AS entity_id,
       translate(lower(trim(p_name)), '_-', ' ') AS norm_name,
       lower(regexp_replace(p_name, '[^a-zA-Z0-9 ]+', '', 'g')) AS canon_name,
       CAST(len(list_filter(regexp_extract_all(p_name, '[A-Za-z0-9]+'),
                            t -> NOT list_contains({_STOP_LIST_SQL}, t))) AS BIGINT) AS n_tokens
FROM part
"""


# ---------------------------------------------------------------------------
# 2. token_idf — A1 (document frequency / IDF)
# ---------------------------------------------------------------------------

def q_token_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: idf(token) = ln(N/df + 1) over part-name tokens (SURVEY §2.4)."""
    part = _t(spark, sf_dir, "part")
    n = part.select(F.count(F.lit(1)).alias("n"))
    toks = part.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("token")
    ).distinct()
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .crossJoin(F.broadcast(n))
        .select("token", "df", F.round(F.log(F.col("n") / F.col("df") + 1), 6).alias("idf"))
    )


SQL_TOKEN_IDF = """
WITH toks AS (
  SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part
), n AS (SELECT count(*) AS n FROM part)
SELECT token, CAST(count(*) AS BIGINT) AS df,
       round(ln((SELECT n FROM n) / count(*) + 1), 6) AS idf
FROM toks GROUP BY token
"""


# ---------------------------------------------------------------------------
# 3. blocking_candidates — J1/J2/P4/A2/W2 (the inverted-index candidate join)
# ---------------------------------------------------------------------------

_BLOCK_SQL_CTES = f"""
WITH s_tok AS (
  SELECT DISTINCT p_partkey AS s_id, unnest(string_split(p_name, ' ')) AS token
  FROM part WHERE p_partkey % 2 = 0
), t_tok AS (
  SELECT DISTINCT p_partkey AS t_id, unnest(string_split(p_name, ' ')) AS token
  FROM part WHERE p_partkey % 2 = 1
), s_n AS (SELECT count(*) AS n FROM part WHERE p_partkey % 2 = 0),
t_n AS (SELECT count(*) AS n FROM part WHERE p_partkey % 2 = 1),
s_idf AS (
  SELECT token, ln((SELECT n FROM s_n) / count(*) + 1) AS s_idf FROM s_tok GROUP BY token
), t_idf AS (
  SELECT token, ln((SELECT n FROM t_n) / count(*) + 1) AS t_idf FROM t_tok GROUP BY token
), vocab AS (
  SELECT s_idf.token, s_idf.s_idf, t_idf.t_idf FROM s_idf JOIN t_idf USING (token)
  WHERE s_idf.s_idf >= {DEMO_IDF_LIMIT!r} AND t_idf.t_idf >= {DEMO_IDF_LIMIT!r}
), pairs AS (
  SELECT s_tok.s_id, t_tok.t_id, sum(vocab.t_idf) AS cand_score
  FROM s_tok JOIN vocab USING (token) JOIN t_tok USING (token)
  GROUP BY s_tok.s_id, t_tok.t_id
), ranked AS (
  SELECT s_id, t_id, cand_score,
         row_number() OVER (PARTITION BY s_id ORDER BY cand_score DESC, t_id ASC) AS rank
  FROM pairs
)
"""


def _blocking_candidates_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # broadcast-index kernel: bit-identical to the shuffle-join plan
    # (tests/test_broadcast_index.py) and ~12x faster on this data
    # (33s → 2.7s at sf0.1 — the pair fan-out never materializes).
    from ontoemma_spark.operators.blocking import candidate_pairs_broadcast_index

    part = _t(spark, sf_dir, "part")
    s = part.filter(F.col("p_partkey") % 2 == 0)
    t = part.filter(F.col("p_partkey") % 2 == 1)
    s_tokens = s.select(
        F.col("p_partkey").alias("entity_id"), F.explode(F.split("p_name", " ")).alias("token")
    ).distinct()
    t_tokens = t.select(
        F.col("p_partkey").alias("entity_id"), F.explode(F.split("p_name", " ")).alias("token")
    ).distinct()
    # both side counts in ONE scan job (r6) — s.count() + t.count() were
    # two separate jobs over the same table
    cnts = part.select(
        F.sum((F.col("p_partkey") % 2 == 0).cast("long")).alias("s_n"),
        F.sum((F.col("p_partkey") % 2 == 1).cast("long")).alias("t_n"),
    ).first()
    return candidate_pairs_broadcast_index(
        s_tokens, t_tokens, cnts["s_n"] or 0, cnts["t_n"] or 0,
        idf_limit=DEMO_IDF_LIMIT, top_k=BLOCK_TOP_K,
    )


def q_blocking_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2/P4/A2/W2: IDF-filtered token blocking join + top-K window
    (SURVEY §2.3/§2.5) — the skew-critical join of the north rule."""
    c = _blocking_candidates_df(spark, sf_dir)
    return c.select(
        F.col("s_id").cast("bigint"),
        F.col("t_id").cast("bigint"),
        F.round("cand_score", 6).alias("cand_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_BLOCKING_CANDIDATES = _BLOCK_SQL_CTES + f"""
SELECT CAST(s_id AS BIGINT) AS s_id, CAST(t_id AS BIGINT) AS t_id,
       round(cand_score, 6) AS cand_score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {BLOCK_TOP_K}
"""


# ---------------------------------------------------------------------------
# 4. best_match — W1/G5 (argmax per source with threshold + tiebreak)
# ---------------------------------------------------------------------------

def q_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/G5: best candidate per source ≥ relative threshold 0.5
    (SURVEY §2.5); scores normalized by the global max."""
    from pyspark import StorageLevel

    # c feeds BOTH the global max and the ranked scores — cache the
    # candidate table so the probe kernel runs once, not twice.
    c = _blocking_candidates_df(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    gmax = c.select(F.max("cand_score").alias("m"))
    scores = c.crossJoin(F.broadcast(gmax)).select(
        "s_id", "t_id", (F.col("cand_score") / F.col("m")).alias("score")
    )
    best = best_alignment(scores, threshold=0.5)
    return best.select(
        F.col("s_id").cast("bigint"), F.col("t_id").cast("bigint"),
        F.round("score", 6).alias("score"),
    )


SQL_BEST_MATCH = _BLOCK_SQL_CTES + f"""
, kept AS (SELECT * FROM ranked WHERE rank <= {BLOCK_TOP_K}),
scored AS (
  SELECT s_id, t_id, cand_score / (SELECT max(cand_score) FROM kept) AS score FROM kept
), best AS (
  SELECT s_id, t_id, score,
         row_number() OVER (PARTITION BY s_id ORDER BY score DESC, t_id ASC) AS rn
  FROM scored
)
SELECT CAST(s_id AS BIGINT) AS s_id, CAST(t_id AS BIGINT) AS t_id, round(score, 6) AS score
FROM best WHERE rn = 1 AND score >= 0.5
"""


# ---------------------------------------------------------------------------
# 5. string_equiv — J3 (normalized-alias equivalence join)
# ---------------------------------------------------------------------------

def q_string_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: normalized-name equality join between the even/odd KB halves,
    bounded to s_id < 200 (SURVEY §2.3). Score is the constant 1.0."""
    part = _t(spark, sf_dir, "part")
    norm = F.translate(F.lower(F.col("p_name")), "_-", " ")
    s = part.filter((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < 200)).select(
        F.col("p_partkey").alias("s_id"), norm.alias("norm_name")
    )
    t = part.filter(F.col("p_partkey") % 2 == 1).select(
        F.col("p_partkey").alias("t_id"), norm.alias("norm_name")
    )
    return (
        s.join(t, "norm_name")
        .select(
            F.col("s_id").cast("bigint"), F.col("t_id").cast("bigint"),
            F.lit(1.0).alias("score"),
        )
        .distinct()
    )


SQL_STRING_EQUIV = """
WITH s AS (
  SELECT p_partkey AS s_id, translate(lower(p_name), '_-', ' ') AS norm_name
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 200
), t AS (
  SELECT p_partkey AS t_id, translate(lower(p_name), '_-', ' ') AS norm_name
  FROM part WHERE p_partkey % 2 = 1
)
SELECT DISTINCT CAST(s_id AS BIGINT) AS s_id, CAST(t_id AS BIGINT) AS t_id,
       1.0::DOUBLE AS score
FROM s JOIN t USING (norm_name)
"""


# ---------------------------------------------------------------------------
# 6. symmetric_closure — G1
# ---------------------------------------------------------------------------

def q_symmetric_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: add inverse edges for invertible relation types (SURVEY §2.10).
    Edges: nation --PAR--> region (parent), closure adds region --CHD--> nation."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    edges = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("n_name").alias("subject_id"),
            F.col("r_name").alias("object_id"),
            F.lit("PAR").alias("relation_type"),
            F.lit(False).alias("symmetric"),
            F.lit(None).cast("array<string>").alias("labels"),
        )
    )
    return symmetric_closure(edges)


SQL_SYMMETRIC_CLOSURE = """
WITH e AS (
  SELECT n_name AS subject_id, r_name AS object_id, 'PAR' AS relation_type
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT DISTINCT subject_id, object_id, relation_type FROM (
  SELECT * FROM e
  UNION ALL
  SELECT object_id AS subject_id, subject_id AS object_id, 'CHD' AS relation_type FROM e
)
"""


# ---------------------------------------------------------------------------
# 7. merge_entities — A8/O4 (canonical '|'-joined sorted id)
# ---------------------------------------------------------------------------

def q_merge_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/O4: graph.merge_entities over customers as entities, merged per
    market segment (kb_utils_refactor.py:340-412). Ids are the custkey
    as a string, so id order ("12" < "3") differs from name order
    ("Customer#...3" < "Customer#...12") and the canonical name shows
    the first-member-by-id rule; aliases share nation tags, so the union
    dedups."""
    from ontoemma_spark.operators.graph import merge_entities

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    nation = F.col("c_nationkey").cast("string")
    entities = cust.select(
        F.col("c_mktsegment").alias("merge_key"),
        F.col("c_custkey").cast("string").alias("research_entity_id"),
        F.col("c_name").alias("canonical_name"),
        F.array("c_name", F.concat(F.lit("nation-"), nation)).alias("aliases"),
        F.concat(F.lit("nation "), nation).alias("definition"),
    )
    merged = merge_entities(entities, "merge_key")
    return merged.select(
        "merge_key",
        "research_entity_id",
        "canonical_name",
        F.array_join("aliases", "|").alias("aliases"),
        "definition",
    )


SQL_MERGE_ENTITIES = """
WITH e AS (
  SELECT c_mktsegment AS merge_key, CAST(c_custkey AS VARCHAR) AS id,
         c_name AS name, [c_name, 'nation-' || CAST(c_nationkey AS VARCHAR)] AS aliases,
         'nation ' || CAST(c_nationkey AS VARCHAR) AS definition
  FROM customer WHERE c_custkey < 50
)
SELECT merge_key,
       string_agg(DISTINCT id, '|' ORDER BY id) AS research_entity_id,
       arg_min(name, id) AS canonical_name,
       array_to_string(list_sort(list_distinct(flatten(list(aliases)))), '|') AS aliases,
       string_agg(DISTINCT definition, ' ' ORDER BY definition) AS definition
FROM e GROUP BY merge_key
"""


# ---------------------------------------------------------------------------
# 8. prf1_eval — J6/A4 (alignment vs gold P/R/F1)
# ---------------------------------------------------------------------------

def q_prf1_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A4: TP/FP/FN + P/R/F1 as one row (OntoEmma.py:875-950 shape).
    pred = rich customers, gold = custkey ≡ 0 (mod 3)."""
    cust = _t(spark, sf_dir, "customer")
    pred = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    gold = cust.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    tp = pred.join(gold, "c_custkey", "left_semi").count()
    np_, ng = pred.count(), gold.count()
    p = tp / np_ if np_ else 0.0
    r = tp / ng if ng else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return spark.createDataFrame(
        [(tp, np_ - tp, ng - tp, round(p, 6), round(r, 6), round(f1, 6))],
        "tp bigint, fp bigint, fn bigint, precision double, recall double, f1 double",
    )


SQL_PRF1_EVAL = """
WITH pred AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
gold AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0),
m AS (
  SELECT (SELECT count(*) FROM pred WHERE c_custkey IN (SELECT c_custkey FROM gold)) AS tp,
         (SELECT count(*) FROM pred) AS np, (SELECT count(*) FROM gold) AS ng
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(np - tp AS BIGINT) AS fp, CAST(ng - tp AS BIGINT) AS fn,
       round(tp / np, 6) AS precision, round(tp / ng, 6) AS recall,
       round(CASE WHEN tp = 0 THEN 0.0 ELSE 2.0 * (tp/np) * (tp/ng) / (tp/np + tp/ng) END, 6) AS f1
FROM m
"""


# ---------------------------------------------------------------------------
# 9. missed_gold — E2/S15 (gold \ predicted anti-join)
# ---------------------------------------------------------------------------

def q_missed_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/S15: gold pairs the aligner missed (evaluate.missed_gold).
    gold = (e, e+1) diagonal; predicted = string-equiv pairs of q5."""
    from ontoemma_spark.operators.evaluate import missed_gold

    pred = q_string_equiv(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    gold = part.filter((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < 200)).select(
        F.col("p_partkey").cast("bigint").alias("s_id"),
        (F.col("p_partkey") + 1).cast("bigint").alias("t_id"),
    )
    return missed_gold(pred, gold)


SQL_MISSED_GOLD = """
WITH s AS (
  SELECT p_partkey AS s_id, translate(lower(p_name), '_-', ' ') AS norm_name
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 200
), t AS (
  SELECT p_partkey AS t_id, translate(lower(p_name), '_-', ' ') AS norm_name
  FROM part WHERE p_partkey % 2 = 1
), pred AS (
  SELECT DISTINCT s_id, t_id FROM s JOIN t USING (norm_name)
), gold AS (
  SELECT p_partkey AS s_id, p_partkey + 1 AS t_id
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 200
)
SELECT CAST(g.s_id AS BIGINT) AS s_id, CAST(g.t_id AS BIGINT) AS t_id
FROM gold g ANTI JOIN pred p ON g.s_id = p.s_id AND g.t_id = p.t_id
"""


# ---------------------------------------------------------------------------
# 10. hard_negatives — J11/M6 (deterministic hard-negative sampling)
# ---------------------------------------------------------------------------

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/M6: per gold source, the single top-ranked non-gold candidate
    (extract_training_data_from_umls.py:311-352, deterministic variant)."""
    from ontoemma_spark.operators.evaluate import hard_negatives

    cands = _blocking_candidates_df(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    gold = part.filter((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < 200)).select(
        F.col("p_partkey").alias("s_id"), (F.col("p_partkey") + 1).alias("t_id")
    )
    negs = hard_negatives(cands, gold, per_source=1)
    return negs.select(
        F.col("s_id").cast("bigint"), F.col("t_id").cast("bigint"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_HARD_NEGATIVES = _BLOCK_SQL_CTES + f"""
, kept AS (SELECT * FROM ranked WHERE rank <= {BLOCK_TOP_K}),
gold AS (
  SELECT p_partkey AS s_id, p_partkey + 1 AS t_id
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 200
), negs AS (
  SELECT k.s_id, k.t_id, k.rank FROM kept k
  ANTI JOIN gold g ON k.s_id = g.s_id AND k.t_id = g.t_id
  WHERE k.s_id IN (SELECT s_id FROM gold)
), picked AS (
  SELECT s_id, t_id, rank, row_number() OVER (PARTITION BY s_id ORDER BY rank ASC) AS nr
  FROM negs
)
SELECT CAST(s_id AS BIGINT) AS s_id, CAST(t_id AS BIGINT) AS t_id, CAST(rank AS BIGINT) AS rank
FROM picked WHERE nr = 1
"""


# ---------------------------------------------------------------------------
# 11. concept_collapse — A6/W4 (group + priority-pick + alias dedupe)
# ---------------------------------------------------------------------------

def q_concept_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W4: collapse event rows per user: canonical type by fixed
    priority (TTY-order analog, extract_training_data_from_umls.py:52-57,
    196-198), sorted distinct alias set, count."""
    events = _t(spark, sf_dir, "events")
    rank = F.when(F.col("event_type") == EVENT_PRIORITY[0], 0)
    for i, et in enumerate(EVENT_PRIORITY[1:], start=1):
        rank = rank.when(F.col("event_type") == et, i)
    rank = rank.otherwise(99)
    return events.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.min_by("event_type", rank).alias("canonical_type"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("alias_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


_PRIORITY_CASE = "CASE " + " ".join(
    f"WHEN event_type = '{et}' THEN {i}" for i, et in enumerate(EVENT_PRIORITY)
) + " ELSE 99 END"

SQL_CONCEPT_COLLAPSE = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       arg_min(event_type, {_PRIORITY_CASE}) AS canonical_type,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS alias_types,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# 12. cui_selfjoin — J8 (atoms sharing a key → cross-source pairs, deduped)
# ---------------------------------------------------------------------------

def q_cui_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: self-join on the shared key with source1 < source2 ordering +
    dedupe (extract_training_data_from_umls.py:145-174). Here: event
    types co-occurring for a user."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a = ev.select("user_id", F.col("event_type").alias("type_a"))
    b = ev.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


SQL_CUI_SELFJOIN = """
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(count(*) AS BIGINT) AS n_users
FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 13. bfs_2hop — G2 (bounded BFS region counts)
# ---------------------------------------------------------------------------

def q_bfs_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: 2-hop region expansion region→nation→customer; nodes reached
    per seed per hop (OntoEmma.py:452-478 semantics, aggregated)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    hop1 = region.join(nation, region["r_regionkey"] == nation["n_regionkey"]).select(
        F.col("r_name").alias("seed"), F.lit(1).alias("path_len"),
        F.col("n_nationkey").cast("string").alias("node"),
    )
    hop2 = (
        region.join(nation, region["r_regionkey"] == nation["n_regionkey"])
        .join(cust, nation["n_nationkey"] == cust["c_nationkey"])
        .select(
            F.col("r_name").alias("seed"), F.lit(2).alias("path_len"),
            F.col("c_custkey").cast("string").alias("node"),
        )
    )
    return (
        hop1.union(hop2)
        .groupBy("seed", F.col("path_len").cast("bigint").alias("path_len"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


SQL_BFS_2HOP = """
WITH hop1 AS (
  SELECT r_name AS seed, 1 AS path_len, CAST(n_nationkey AS VARCHAR) AS node
  FROM region JOIN nation ON r_regionkey = n_regionkey
), hop2 AS (
  SELECT r_name AS seed, 2 AS path_len, CAST(c_custkey AS VARCHAR) AS node
  FROM region JOIN nation ON r_regionkey = n_regionkey
  JOIN customer ON n_nationkey = c_nationkey
)
SELECT seed, CAST(path_len AS BIGINT) AS path_len, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT * FROM hop1 UNION ALL SELECT * FROM hop2) GROUP BY seed, path_len
"""


# ---------------------------------------------------------------------------
# 14. connected_components — G7 (real iterative hash-min CC vs closed form)
# ---------------------------------------------------------------------------

def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: hash-min CC over the chain graph of nations within a region
    (consecutive-by-name edges). Closed form: component = min nation
    name per region — the oracle computes that directly; Spark runs the
    real fixpoint loop (components.py)."""
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("src")
    edges = (
        nation.select("n_regionkey", F.col("n_name").alias("src"))
        .withColumn("dst", F.lead("src", 1).over(w))
        .filter(F.col("dst").isNotNull())
        .select("src", "dst")
    )
    cc = connected_components(edges)
    return cc.select("node", "component")


SQL_CONNECTED_COMPONENTS = """
WITH sized AS (
  SELECT n_regionkey, count(*) AS cnt FROM nation GROUP BY n_regionkey
)
SELECT n_name AS node,
       min(n_name) OVER (PARTITION BY n_regionkey) AS component
FROM nation JOIN sized USING (n_regionkey)
WHERE sized.cnt > 1
"""


# ---------------------------------------------------------------------------
# 15. dedup_exact — content-hash exact dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): one row per distinct document text."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_duplicates(docs).select(
        "content_hash", F.col("rep_doc_id").cast("bigint").alias("rep_doc_id"),
        F.col("dup_count").cast("bigint").alias("dup_count"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# shared shingle CTE (w-word shingles via lead window) for 16-19
# ---------------------------------------------------------------------------

_SHINGLE_CTE = f"""
WITH toks AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos, tok
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
), sh0 AS (
  SELECT doc_id,
         concat_ws(' ', tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)) AS shingle,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS _last
  FROM toks
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0 WHERE _last IS NOT NULL
)
"""


# 16. minhash_signatures — per-doc MinHash sketch
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: h_k = min(md5(k || ':' || shingle)) — bitwise
    oracle-checkable sketch, computed with the zero-shuffle narrow form
    (array_min over the in-row shingle array)."""
    docs = _t(spark, sf_dir, "documents")
    sig = D.minhash_signatures_narrow(docs, w=SHINGLE_W, num_hashes=NUM_MINHASHES)
    return sig.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      *[f"h{k}" for k in range(NUM_MINHASHES)])


SQL_MINHASH_SIGNATURES = _SHINGLE_CTE + f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {", ".join(f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(NUM_MINHASHES))}
FROM sh GROUP BY doc_id
"""


# 17. lsh_dup_candidates — banded LSH join (1 row per band) + jaccard rescore
def q_lsh_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (band join) rescored with exact
    shingle jaccard, kept at ≥ JACCARD_MIN. The rescoring joins the
    per-doc shingle ARRAY onto the (small) candidate-pair set and
    intersects in-row — exact jaccard is computed only for LSH survivors,
    never all-pairs (the whole point of LSH at 10^12 docs)."""
    docs = _t(spark, sf_dir, "documents")
    # ONE cached shingling pass + exploded-codegen signatures via the
    # shared helper (cached_shingle_signatures — same structure as the
    # composed curation pass, extracted so the two cannot drift; see
    # its docstring for the persist/exploded-vs-narrow rationale —
    # persist, NOT eager localCheckpoint: lineage survives executor
    # loss on a real cluster, and MEMORY_AND_DISK spills instead of
    # pinning executor memory. Same values as the narrow form — tests
    # pin narrow == exploded.)
    sh_arr, sig = D.cached_shingle_signatures(
        docs, w=SHINGLE_W, num_hashes=NUM_MINHASHES
    )
    # fused band-join + exact-jaccard rescore kernel (r6): identical
    # rows to lsh_candidate_pairs → rescore_jaccard_pairs (which is its
    # in-kernel fallback above the postings guard) without materializing
    # the multi-million-row band self-join fan-out
    return D.lsh_jaccard_pairs_broadcast(
        sh_arr, sig, num_hashes=NUM_MINHASHES, bands=LSH_BANDS,
        min_jaccard=JACCARD_MIN, keep_jaccard=True,
    ).select(
        F.col("doc_a").cast("bigint"), F.col("doc_b").cast("bigint"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_ROWS_PER_BAND = NUM_MINHASHES // LSH_BANDS
_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_hash FROM sig".format(
        b=b,
        expr=" || '|' || ".join(
            f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(LSH_BANDS)
)

# sig → band join → exact-jaccard rescore CTE chain, shared by the
# candidate-pair oracle (17) and the cluster-resolution oracle (17b).
_LSH_JAC_CTES = f"""
, sig AS (
  SELECT doc_id, {", ".join(f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(NUM_MINHASHES))}
  FROM sh GROUP BY doc_id
), bands AS (
  {_BAND_SELECTS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE i / (sa.n + sb.n - i) >= {JACCARD_MIN!r}
), dup AS (
  SELECT c.doc_a, c.doc_b, j.jaccard
  FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
)
"""

SQL_LSH_DUP_CANDIDATES = _SHINGLE_CTE + _LSH_JAC_CTES + """
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       round(jaccard, 6) AS jaccard
FROM dup
"""


# 17e. bloom_url_seen — sparse relational Bloom membership state
def q_bloom_url_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter cross-crawl URL-seen probe (dedup.bloom_state /
    bloom_probe — the CC-Net/Dolma membership shape when the exact key
    set is too expensive for the ingest hot path): corpus = docs<250's
    canonical URLs; batch keys wrap at 300, so ~5/6 of the batch rehits
    the corpus and site250-299 are genuinely new. The twin computes
    bloom SEMANTICS exactly — membership = all k hashed positions of
    the key present in the corpus's position set — so false positives
    (if the fill ratio ever produced one) match bit-for-bit too."""
    from ontoemma_spark.operators.dedup import bloom_probe, bloom_state

    docs = _t(spark, sf_dir, "documents")
    url = lambda c: F.concat(  # noqa: E731
        F.lit("https://site"), c.cast("string"), F.lit(".example/page")
    )
    corpus = docs.filter(F.col("doc_id") < 250).select(
        url(F.col("doc_id")).alias("key")
    )
    batch = docs.select(
        "doc_id", url(F.col("doc_id") % 300).alias("key")
    )
    state = bloom_state(corpus)
    return bloom_probe(batch, state).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "maybe_seen"
    )


def _bloom_pos_sql(expr: str, i: int) -> str:
    from ontoemma_spark.operators.dedup import BLOOM_M_BITS

    return (f"CAST('0x' || substr(md5('bloom{i}:' || {expr}), 1, 8) AS BIGINT)"
            f" % {BLOOM_M_BITS}")


SQL_BLOOM_URL_SEEN = f"""
WITH corpus AS (
  SELECT 'https://site' || CAST(doc_id AS VARCHAR) || '.example/page' AS key
  FROM documents WHERE doc_id < 250
), batch AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 300 AS VARCHAR) || '.example/page' AS key
  FROM documents
), cpos AS (
  SELECT DISTINCT {_bloom_pos_sql('key', 0)} AS pos FROM corpus
  UNION
  SELECT DISTINCT {_bloom_pos_sql('key', 1)} AS pos FROM corpus
), bpos AS (
  SELECT doc_id, unnest([{_bloom_pos_sql('key', 0)},
                         {_bloom_pos_sql('key', 1)}]) AS pos
  FROM batch
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       bool_and(c.pos IS NOT NULL) AS maybe_seen
FROM bpos b LEFT JOIN cpos c USING (pos)
GROUP BY b.doc_id
"""


# 17d. lsh_hot_band_cap — the LSH skew guard, driver-verified
_HOTCAP_BOILER = (
    "all rights reserved standard boilerplate navigation chrome footer"
)
_HOTCAP_MAX_BAND_DF = 8  # < the boiler band's df at every test SF (10 at sf0.001)


def q_lsh_hot_band_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH hot-band guard (drop_hot_bands, r4 verdict item 3) under
    driver verification: every 5th doc carries IDENTICAL boilerplate —
    one degenerate band whose df is n/5 and whose uncapped fan-out is
    quadratic (C(n/5,2) pairs; at 10^12 docs that one band emits ~10^22
    rows, an output-cardinality blow-up AQE cannot fix). Docs 2k/2k+1
    (both non-boiler) share text pairwise — legitimate near-dups with
    band df=2. With max_band_df=8 the boiler band is anti-joined away
    and ONLY the legitimate pairs survive; the twin applies the same
    cap as a HAVING on band document frequency."""
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HOTCAP_BOILER))
        .otherwise(F.concat(
            F.lit("unique page content block "),
            F.floor(F.col("doc_id") / 2).cast("string"),
            F.lit(" body words alpha beta gamma delta"),
        )).alias("text"),
    )
    # spread(): the interpreted narrow minhash otherwise runs in ONE
    # scan task on this single-split table (guide §2.6); the band join
    # downstream forces the compute (no count-prune), so parallelism
    # here is pure win
    sig = D.minhash_signatures_narrow(
        D.spread(pages), w=SHINGLE_W, num_hashes=NUM_MINHASHES
    )
    pairs = D.lsh_candidate_pairs(
        sig, num_hashes=NUM_MINHASHES, bands=LSH_BANDS,
        max_band_df=_HOTCAP_MAX_BAND_DF,
    )
    return pairs.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
    )


SQL_LSH_HOT_BAND_CAP = (
    """
WITH pages AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN '"""
    + _HOTCAP_BOILER
    + """'
              ELSE 'unique page content block ' || CAST(doc_id // 2 AS VARCHAR)
                   || ' body words alpha beta gamma delta'
         END AS text
  FROM documents
), """
    + _SHINGLE_CTE.strip()[len("WITH "):].replace("FROM documents", "FROM pages")
    + f"""
, sig AS (
  SELECT doc_id, {", ".join(f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(NUM_MINHASHES))}
  FROM sh GROUP BY doc_id
), bands AS (
  {_BAND_SELECTS}
), keep AS (
  -- the cap: bands above max_band_df are quarantined (drop_hot_bands)
  SELECT band_idx, band_hash FROM bands
  GROUP BY 1, 2 HAVING count(*) <= {_HOTCAP_MAX_BAND_DF}
), capped AS (
  SELECT b.doc_id, b.band_idx, b.band_hash
  FROM bands b JOIN keep USING (band_idx, band_hash)
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,
                CAST(b.doc_id AS BIGINT) AS doc_b
FROM capped a JOIN capped b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""
)


# 17f. bloom_gated_dedup — the two-tier ingest gate (bloom + exact confirm)
def q_bloom_gated_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier cross-crawl dedup gate (dedup.bloom_gated_dedup): bloom
    pre-filter routes definitely-fresh rows past the corpus-key join,
    the exact confirm join resolves the maybe_seen slice. Output is
    EXACT membership (bloom FPs are confirmed away, and blooms have no
    false negatives), so the twin is a plain EXISTS — the bloom is an
    execution strategy here, not a semantics change."""
    from ontoemma_spark.operators.dedup import bloom_gated_dedup

    docs = _t(spark, sf_dir, "documents")
    url = lambda c: F.concat(  # noqa: E731
        F.lit("https://site"), c.cast("string"), F.lit(".example/page")
    )
    corpus = docs.filter(F.col("doc_id") < 250).select(
        url(F.col("doc_id")).alias("key")
    )
    batch = docs.select(
        "doc_id", url(F.col("doc_id") % 300).alias("key")
    )
    return bloom_gated_dedup(batch, corpus).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "key", "is_dup"
    )


SQL_BLOOM_GATED_DEDUP = """
WITH corpus AS (
  SELECT 'https://site' || CAST(doc_id AS VARCHAR) || '.example/page' AS key
  FROM documents WHERE doc_id < 250
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://site' || CAST(doc_id % 300 AS VARCHAR) || '.example/page' AS key,
       EXISTS (SELECT 1 FROM corpus c
               WHERE c.key = 'https://site' || CAST(doc_id % 300 AS VARCHAR)
                             || '.example/page') AS is_dup
FROM documents
"""


# 17g. kg_edge_weights — KG edge consolidation (weighted_edges)
def q_kg_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-stage edge weighting (graph.weighted_edges): pages
    synthesized from a SMALL token pool (subj = w{doc_id%7} etc.) so
    popular triples repeat across many pages — the head-entity shape —
    then the real extractor runs and per-page emissions collapse to one
    weighted edge each with support, distinct-page count, and
    first/last seen dates."""
    from ontoemma_spark.extract.triples import extract_triples
    from ontoemma_spark.operators.graph import weighted_edges

    docs = _t(spark, sf_dir, "documents")
    w = lambda m: F.concat(F.lit("w"), (F.col("doc_id") % m).cast("string"))  # noqa: E731
    base = F.concat(
        w(7), F.lit(" is a "), w(11), F.lit(". "),
        w(5), F.lit(" is part of "), w(13), F.lit("."),
    )
    # every 3rd page repeats its first sentence -> support > n_pages
    # for those triples (same page, two emissions)
    pages = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(base, F.lit(" "), w(7), F.lit(" is a "), w(11), F.lit(".")),
        ).otherwise(base).alias("text"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 37).cast("int")
        ).alias("ts"),
    )
    edges = extract_triples(pages).join(pages.select("url", "ts"), "url")
    out = weighted_edges(
        edges, key_cols=("subj", "pred", "obj"), page_col="url", ts_col="ts"
    )
    return out.select(
        "subj", "pred", "obj",
        F.col("support").cast("bigint").alias("support"),
        F.date_format("first_seen", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd").alias("last_seen"),
        F.col("n_pages").cast("bigint").alias("n_pages"),
    )


SQL_KG_EDGE_WEIGHTS = """
WITH pages AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
         doc_id,
         'w' || CAST(doc_id % 7 AS VARCHAR) AS w1,
         'w' || CAST(doc_id % 11 AS VARCHAR) AS w2,
         'w' || CAST(doc_id % 5 AS VARCHAR) AS w3,
         'w' || CAST(doc_id % 13 AS VARCHAR) AS w4,
         DATE '2024-01-01' + CAST(doc_id % 37 AS INTEGER) AS ts
  FROM documents
), edges AS (
  SELECT url, w1 AS subj, 'is_a' AS pred, w2 AS obj, ts FROM pages
  UNION ALL
  SELECT url, w3 AS subj, 'part_of' AS pred, w4 AS obj, ts FROM pages
  UNION ALL
  SELECT url, w1 AS subj, 'is_a' AS pred, w2 AS obj, ts FROM pages
  WHERE doc_id % 3 = 0
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS support,
       strftime(min(ts), '%Y-%m-%d') AS first_seen,
       strftime(max(ts), '%Y-%m-%d') AS last_seen,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages
FROM edges
GROUP BY subj, pred, obj
"""


# 17h. entity_pmi — co-occurrence PMI edge weighting
_PMI_MAX_PER_DOC = 4
_PMI_MIN_PAIR = 2


def q_entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence PMI (graph.entity_cooccurrence_pmi):
    per-doc entity sets are the first 6 text tokens, capped at 4
    entities per doc (exercising the fan-out guard), pairs seen < 2
    times pruned. The twin replays the identical cap/marginal/pair
    algebra in SQL."""
    from ontoemma_spark.operators.graph import entity_cooccurrence_pmi

    docs = _t(spark, sf_dir, "documents")
    mentions = docs.select(
        "doc_id",
        F.explode(F.slice(F.split(F.col("text"), " "), 1, 6)).alias("entity"),
    )
    out = entity_cooccurrence_pmi(
        mentions, doc_col="doc_id", ent_col="entity",
        max_per_doc=_PMI_MAX_PER_DOC, min_pair_count=_PMI_MIN_PAIR,
    )
    return out.select(
        "ent_a", "ent_b",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.round("pmi", 6).alias("pmi"),
    )


SQL_ENTITY_PMI = f"""
WITH ents AS (
  SELECT DISTINCT doc_id, entity FROM (
    SELECT doc_id, unnest(string_split(text, ' ')[1:6]) AS entity
    FROM documents
  )
), capped AS (
  SELECT doc_id, entity FROM (
    SELECT doc_id, entity,
           row_number() OVER (PARTITION BY doc_id ORDER BY entity) AS rk
    FROM ents
  ) WHERE rk <= {_PMI_MAX_PER_DOC}
), n_total AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM capped
), marginals AS (
  SELECT entity, count(*) AS n_ent FROM capped GROUP BY entity
), pairs AS (
  SELECT a.entity AS ent_a, b.entity AS ent_b, count(*) AS n_ab
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.entity < b.entity
  GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_PAIR}
)
SELECT p.ent_a, p.ent_b, CAST(p.n_ab AS BIGINT) AS n_ab,
       round(ln(p.n_ab * (SELECT n_docs FROM n_total)
                / (ma.n_ent * mb.n_ent)), 6) AS pmi
FROM pairs p
JOIN marginals ma ON ma.entity = p.ent_a
JOIN marginals mb ON mb.entity = p.ent_b
"""


# 17i. anchor_profile — per-target anchor-text profiles
def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph anchor-text aggregation (textstats.anchor_text_profile):
    links synthesized as (dst_host = site{doc_id%23}, anchor = first 4
    text tokens); per-host top-3 anchor tokens by count with
    lexicographic tie-break."""
    from ontoemma_spark.operators.textstats import anchor_text_profile

    docs = _t(spark, sf_dir, "documents")
    links = docs.select(
        F.concat(F.lit("site"), (F.col("doc_id") % 23).cast("string")).alias("dst_host"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 4), " ").alias("anchor_text"),
    )
    out = anchor_text_profile(links, top_k=3)
    return out.select(
        "dst", "token",
        F.col("n").cast("bigint").alias("n"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_ANCHOR_PROFILE = """
WITH links AS (
  SELECT 'site' || CAST(doc_id % 23 AS VARCHAR) AS dst,
         array_to_string(string_split(text, ' ')[1:4], ' ') AS anchor
  FROM documents
), toks AS (
  SELECT dst, token FROM (
    SELECT dst, unnest(string_split_regex(lower(anchor), '[^a-z0-9]+')) AS token
    FROM links
  ) WHERE token <> ''
), counts AS (
  SELECT dst, token, count(*) AS n FROM toks GROUP BY dst, token
)
SELECT dst, token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT dst, token, n,
         row_number() OVER (PARTITION BY dst ORDER BY n DESC, token) AS rank
  FROM counts
) WHERE rank <= 3
"""


# 17j. taxonomy_closure — bounded transitive ancestors over a hierarchy
def q_taxonomy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology subsumption rollup (graph.transitive_ancestors): a
    binary-tree is_a hierarchy (node i -> parent i//2) synthesized from
    document ids; the closure lists every ancestor of every node with
    its BFS depth. The twin is DuckDB's recursive CTE with min-depth
    grouping — same semantics, declarative recursion instead of the
    frontier loop."""
    from ontoemma_spark.operators.graph import transitive_ancestors

    docs = _t(spark, sf_dir, "documents")
    i = (F.col("doc_id") % 200).cast("bigint")
    edges = (
        docs.select(i.alias("i"))
        .filter(F.col("i") >= 1)
        .distinct()
        .select(
            F.concat(F.lit("n"), F.col("i").cast("string")).alias("child"),
            F.concat(F.lit("n"), F.floor(F.col("i") / 2).cast("string")).alias("parent"),
        )
    )
    out = transitive_ancestors(edges, max_depth=12)
    return out.select(
        "node", "ancestor", F.col("depth").cast("bigint").alias("depth")
    )


SQL_TAXONOMY_CLOSURE = """
WITH RECURSIVE nodes AS (
  SELECT DISTINCT doc_id % 200 AS i FROM documents WHERE doc_id % 200 >= 1
), edges AS (
  SELECT 'n' || CAST(i AS VARCHAR) AS child,
         'n' || CAST(i // 2 AS VARCHAR) AS parent
  FROM nodes
), anc AS (
  SELECT child AS node, parent AS ancestor, 1 AS depth FROM edges
  UNION
  SELECT a.node, e.parent, a.depth + 1
  FROM anc a JOIN edges e ON a.ancestor = e.child
  WHERE a.depth < 12 AND a.node <> e.parent
)
SELECT node, ancestor, CAST(min(depth) AS BIGINT) AS depth
FROM anc GROUP BY node, ancestor
"""


# 17k. hits_scores — hub/authority ranking over the directed web graph
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (graph.hits, 5 iterations) over the
    directed customer→supplier graph (same derivation as `pagerank`,
    kept DIRECTED: customers only point, suppliers are only pointed
    at, so the bipartite hub/authority split is visible in the
    output). Normalization is a single end-of-run rescale (see the
    operator docstring for why that equals per-round normalization at
    a fixed iteration count), so the SQL twin is an exact unroll."""
    from ontoemma_spark.operators.graph import hits

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    # derived-predicate pushdown (r6): on the equi-join key the orders
    # filter implies l_orderkey % 3 = 0 — applying it to lineitem drops
    # 2/3 of the big side BEFORE its shuffle (guide §2.3); Spark does
    # not infer modular predicates across joins. Identical join output.
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    out = hits(edges, iterations=5, dedupe=False)
    return out.select(
        "node",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _hits_sql() -> str:
    """Unrolled HITS twin: a_k from h_{k-1}, h_k from a_k, one final
    sum-normalization; round-6 absorbs sum-order reassociation."""
    iterations = 5
    parts = ["""
WITH base_edges AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey % 3 = 0
), nodes AS (
  SELECT src AS node FROM base_edges UNION SELECT dst FROM base_edges
), h0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes
)"""]
    for k in range(1, iterations + 1):
        parts.append(f""", a{k} AS (
  SELECT n.node, CAST(COALESCE(t.s, 0) AS DOUBLE) AS authority
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(h.hub) AS s
    FROM base_edges e JOIN h{k - 1} h ON h.node = e.src GROUP BY e.dst
  ) t ON t.dst = n.node
), h{k} AS (
  SELECT n.node, CAST(COALESCE(t.s, 0) AS DOUBLE) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src, sum(a.authority) AS s
    FROM base_edges e JOIN a{k} a ON a.node = e.dst GROUP BY e.src
  ) t ON t.src = n.node
)""")
    parts.append(f""", joined AS (
  SELECT a.node, a.authority, h.hub
  FROM a{iterations} a JOIN h{iterations} h ON h.node = a.node
), sums AS (
  SELECT sum(authority) AS sa, sum(hub) AS sh FROM joined
)
SELECT node,
       round(authority / (SELECT sa FROM sums), 6) AS authority,
       round(hub / (SELECT sh FROM sums), 6) AS hub
FROM joined""")
    return "".join(parts)


SQL_HITS_SCORES = _hits_sql()


# 17l. label_communities — synchronous label propagation
def q_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation
    (graph.label_propagation, 4 rounds, most-frequent-neighbor label,
    ties to the smallest label). Graph: 8 hub-and-spoke communities
    over 200 nodes (spoke chains i→i+8, spoke→hub i→i%8) plus 7
    hub-to-hub bridges, symmetrized — communities must survive the
    bridges at a bounded round count. Twin unrolls the identical
    vote/argmax rounds with a row_number window."""
    from ontoemma_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    i = (F.col("doc_id") % 200).cast("bigint")
    ids = docs.select(i.alias("i")).distinct()
    n = lambda c: F.concat(F.lit("n"), c.cast("string"))  # noqa: E731
    chain = ids.filter(F.col("i") + 8 < 200).select(
        n(F.col("i")).alias("src"), n(F.col("i") + 8).alias("dst")
    )
    spoke = ids.filter(F.col("i") >= 8).select(
        n(F.col("i")).alias("src"), n(F.col("i") % 8).alias("dst")
    )
    bridge = ids.filter(F.col("i") < 7).select(
        n(F.col("i")).alias("src"), n(F.col("i") + 1).alias("dst")
    )
    directed = chain.union(spoke).union(bridge)
    und = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return label_propagation(und, iterations=4).select("node", "label")


def _lpa_sql() -> str:
    iterations = 4
    parts = ["""
WITH ids AS (
  SELECT DISTINCT doc_id % 200 AS i FROM documents
), directed AS (
  SELECT 'n' || CAST(i AS VARCHAR) AS src, 'n' || CAST(i + 8 AS VARCHAR) AS dst
  FROM ids WHERE i + 8 < 200
  UNION ALL
  SELECT 'n' || CAST(i AS VARCHAR), 'n' || CAST(i % 8 AS VARCHAR)
  FROM ids WHERE i >= 8
  UNION ALL
  SELECT 'n' || CAST(i AS VARCHAR), 'n' || CAST(i + 1 AS VARCHAR)
  FROM ids WHERE i < 7
), edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM directed UNION ALL SELECT dst, src FROM directed
  )
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), l0 AS (
  SELECT node, node AS label FROM nodes
)"""]
    for k in range(1, iterations + 1):
        parts.append(f""", v{k} AS (
  SELECT e.dst, l.label, count(*) AS cnt
  FROM edges e JOIN l{k - 1} l ON l.node = e.src GROUP BY e.dst, l.label
), p{k} AS (
  SELECT dst, label FROM (
    SELECT dst, label,
           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
    FROM v{k}
  ) WHERE rn = 1
), l{k} AS (
  SELECT n.node, COALESCE(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p{k} p ON p.dst = n.node
)""")
    parts.append(f"\nSELECT node, label FROM l{iterations}")
    return "".join(parts)


SQL_LABEL_COMMUNITIES = _lpa_sql()


# 17m. triple_canonicalize — predicate normalization + inverse folding
_CANON_PREDS = [
    "Is  A", "is a", "part of", "has part",
    "based in", "contains", "employs", "weird rel",
]


def q_triple_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate canonicalization (graph.canonicalize_predicates) then
    edge consolidation: triples synthesized with eight surface
    predicate variants — case/whitespace noise ('Is  A'), aliases
    ('part of', 'based in'), inverses that must swap subject/object
    ('has part', 'contains', 'employs'), and an unmapped tail
    ('weird rel') — collapse to canonical weighted edges. The twin
    replays the normalize/alias/inverse algebra as CASE rewrites."""
    from ontoemma_spark.operators.graph import canonicalize_predicates, weighted_edges

    docs = _t(spark, sf_dir, "documents")
    preds = F.array(*[F.lit(p) for p in _CANON_PREDS])
    triples = docs.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 17).cast("string")).alias("subj"),
        F.element_at(preds, (F.col("doc_id") % 8).cast("int") + 1).alias("pred"),
        F.concat(F.lit("e"), (F.col("doc_id") % 23).cast("string")).alias("obj"),
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
    )
    canon = canonicalize_predicates(triples)
    out = weighted_edges(canon, key_cols=("subj", "pred", "obj"), page_col="url")
    return out.select(
        "subj", "pred", "obj",
        F.col("support").cast("bigint").alias("support"),
        F.col("n_pages").cast("bigint").alias("n_pages"),
    )


SQL_TRIPLE_CANONICALIZE = """
WITH raw AS (
  SELECT 'e' || CAST(doc_id % 17 AS VARCHAR) AS subj,
         CASE doc_id % 8
           WHEN 0 THEN 'Is  A' WHEN 1 THEN 'is a' WHEN 2 THEN 'part of'
           WHEN 3 THEN 'has part' WHEN 4 THEN 'based in' WHEN 5 THEN 'contains'
           WHEN 6 THEN 'employs' ELSE 'weird rel' END AS pred,
         'e' || CAST(doc_id % 23 AS VARCHAR) AS obj,
         'u' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), normed AS (
  SELECT subj, regexp_replace(trim(lower(pred)), '\\s+', '_', 'g') AS norm,
         obj, url
  FROM raw
), canon AS (
  SELECT CASE WHEN norm IN ('has_part', 'contains', 'employs')
              THEN obj ELSE subj END AS subj,
         CASE norm
           WHEN 'part_of' THEN 'is_part_of' WHEN 'based_in' THEN 'is_in'
           WHEN 'has_part' THEN 'is_part_of' WHEN 'contains' THEN 'is_in'
           WHEN 'employs' THEN 'works_for' ELSE norm END AS pred,
         CASE WHEN norm IN ('has_part', 'contains', 'employs')
              THEN subj ELSE obj END AS obj,
         url
  FROM normed
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages
FROM canon GROUP BY subj, pred, obj
"""


# 17n. kg_upsert — incremental merge of a crawl batch into the edge table
def q_kg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG edge merge (graph.upsert_edges): even doc_ids
    are the standing edge table, odd doc_ids the new crawl batch; both
    consolidate via weighted_edges, then ONE full-outer merge sums
    support/n_pages and widens the seen window. The twin exploits the
    merge's algebraic identity: merging two disjoint batches'
    aggregates equals aggregating their union (page ids are globally
    unique here, so even the distinct-page counts compose exactly)."""
    from ontoemma_spark.operators.graph import upsert_edges, weighted_edges

    docs = _t(spark, sf_dir, "documents")

    def tri(parity: int) -> DataFrame:
        side = docs.filter(F.col("doc_id") % 2 == parity)
        return side.select(
            F.concat(F.lit("w"), (F.col("doc_id") % 7).cast("string")).alias("subj"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("is_a"))
            .otherwise(F.lit("is_part_of")).alias("pred"),
            F.concat(F.lit("w"), (F.col("doc_id") % 11).cast("string")).alias("obj"),
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 37).cast("int")
            ).alias("ts"),
        )

    current = weighted_edges(tri(0), key_cols=("subj", "pred", "obj"),
                             page_col="url", ts_col="ts")
    batch = weighted_edges(tri(1), key_cols=("subj", "pred", "obj"),
                           page_col="url", ts_col="ts")
    out = upsert_edges(current, batch)
    return out.select(
        "subj", "pred", "obj",
        F.col("support").cast("bigint").alias("support"),
        F.col("n_pages").cast("bigint").alias("n_pages"),
        F.date_format("first_seen", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd").alias("last_seen"),
    )


SQL_KG_UPSERT = """
WITH tri AS (
  SELECT 'w' || CAST(doc_id % 7 AS VARCHAR) AS subj,
         CASE WHEN doc_id % 3 = 0 THEN 'is_a' ELSE 'is_part_of' END AS pred,
         'w' || CAST(doc_id % 11 AS VARCHAR) AS obj,
         'u' || CAST(doc_id AS VARCHAR) AS url,
         DATE '2024-01-01' + CAST(doc_id % 37 AS INTEGER) AS ts
  FROM documents
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
       strftime(min(ts), '%Y-%m-%d') AS first_seen,
       strftime(max(ts), '%Y-%m-%d') AS last_seen
FROM tri GROUP BY subj, pred, obj
"""


# 17o. hll_distinct — mergeable HyperLogLog distinct-count sketches
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch → merge → estimate (operators/sketch.py), the
    distinct-page counter that stays correct across incremental
    `upsert_edges` merges where exact n_pages drifts to an upper
    bound. Per-host distinct-URL counts: urls wrap at 150 so hosts
    see repeats; the corpus is split into even/odd halves, EACH HALF
    is sketched independently, and the halves merge element-wise-max
    — exercising exactly the cross-batch path — before one estimate.
    The twin computes the registers of the FULL union directly: merge
    == rebuild is an algebraic identity of max (max over a union is
    the max of per-part maxes), so the comparison also *proves*
    mergeability under the driver. `exact` rides along to make the
    sketch error visible in the row (±~13% at m=64). All arithmetic
    is exact powers of two until the final divide/ln (see
    sketch.py's docstring), so round(4) absorbs engine libm drift."""
    from ontoemma_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 9).cast("string")).alias("host"),
        F.concat(F.lit("u"), (F.col("doc_id") % 150).cast("string")).alias("url"),
        (F.col("doc_id") % 2).alias("_half"),
    )
    even = SK.hll_sketch(
        pages.filter(F.col("_half") == 0), ["host"], "url", out_col="a"
    )
    odd = SK.hll_sketch(
        pages.filter(F.col("_half") == 1), ["host"], "url", out_col="b"
    )
    merged = even.join(odd, "host", "full_outer").select(
        "host", SK.hll_merge("a", "b").alias("hll")
    )
    exact = pages.groupBy("host").agg(
        F.count_distinct("url").alias("exact")
    )
    return merged.join(exact, "host").select(
        "host",
        F.round(SK.hll_estimate("hll"), 4).alias("est"),
        F.col("exact").cast("bigint").alias("exact"),
    )


def _hll_chain_sql(src: str, key: str, item: str, sfx: str = "") -> str:
    """Shared CTE fragments hashed{sfx}/regs{sfx}/folded{sfx}: the
    per-{key} HLL register fold of {src}({key}, {item}) — the ONE
    DuckDB twin of sketch.py's md5 bucket/rho/fold arithmetic, used by
    hll_distinct AND the HyperANF family so the two oracles can never
    desynchronize. The fold runs over the SPARSE ({key}, bucket) maxes
    — absent registers contribute 2^0 = 1.0 each and count toward V —
    which equals Spark's dense-array fold exactly (every term is an
    exact power of two; see sketch.py on exactness)."""
    from ontoemma_spark.operators.sketch import HLL_M, _NIBBLE_ZEROS

    nib_case = " ".join(
        f"WHEN '{ch}' THEN {z}" for ch, z in _NIBBLE_ZEROS.items()
    )
    return f""", hashed{sfx} AS (
  SELECT {key},
         CAST('0x' || substr(md5({item}), 1, 2) AS BIGINT) % {HLL_M} AS bucket,
         length(regexp_extract(substr(md5({item}), 3, 13), '^0*')) AS zeros,
         substr(regexp_replace(substr(md5({item}), 3, 13), '^0*', ''), 1, 1) AS fnz
  FROM {src}
), regs{sfx} AS (
  SELECT {key}, bucket,
         max(CASE WHEN zeros = 13 THEN 53
                  ELSE zeros * 4 + (CASE fnz {nib_case} ELSE 0 END) + 1
             END) AS mr
  FROM hashed{sfx} GROUP BY {key}, bucket
), folded{sfx} AS (
  SELECT {key},
         sum(pow(2.0, -mr)) + ({HLL_M} - count(*)) AS inv_sum,
         {HLL_M} - count(*) AS v
  FROM regs{sfx} GROUP BY {key}
)"""


def _hll_est_expr() -> str:
    """The estimate CASE over a folded{sfx} row (inv_sum, v) — raw
    alpha_m*m^2/inv_sum with the linear-counting small-range branch,
    twin of sketch.hll_estimate."""
    from ontoemma_spark.operators.sketch import _ALPHA_M, HLL_M

    raw = f"{_ALPHA_M!r} * {HLL_M * HLL_M} / inv_sum"
    return (
        f"CASE WHEN v = {HLL_M} THEN 0.0 "
        f"WHEN {raw} <= 2.5 * {HLL_M} AND v > 0 "
        f"THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / v) "
        f"ELSE {raw} END"
    )


def _hll_sql() -> str:
    """DuckDB twin of q_hll_distinct: the shared _hll_chain_sql
    register fold keyed by host over the synthesized pages."""
    return f"""
WITH pages AS (
  SELECT 'h' || CAST(doc_id % 9 AS VARCHAR) AS host,
         'u' || CAST(doc_id % 150 AS VARCHAR) AS url
  FROM documents
){_hll_chain_sql("pages", "host", "url")}, est AS (
  SELECT host, {_hll_est_expr()} AS e
  FROM folded
)
SELECT e.host, round(e.e, 4) AS est,
       CAST(count(DISTINCT p.url) AS BIGINT) AS exact
FROM est e JOIN pages p ON p.host = e.host
GROUP BY e.host, e.e
"""


SQL_HLL_DISTINCT = _hll_sql()


# 17ab. neighborhood_sizes — HyperANF per-hop reachable-set estimates
def q_neighborhood_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF (graph.neighborhood_function) over a directed mod-30
    ring (v→v+1) with v→v+7 chords on every 3rd doc: per-node HLL
    registers propagated 3 rounds with element-wise max. The twin
    computes the EXACT <= h-hop reachable sets by unrolled joins and
    rebuilds the registers from them with the same md5 arithmetic —
    max's idempotent-merge identity makes propagation == rebuild, so
    the driver verifies the propagation algebra itself, not just
    numbers. round(4) absorbs the final ln/divide libm drift (same
    convention as hll_distinct)."""
    from ontoemma_spark.operators.graph import neighborhood_function

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 30).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    chords = docs.filter(d % 3 == 0).select(
        node(d).alias("src"), node(d + 7).alias("dst")
    )
    return neighborhood_function(ring.unionAll(chords), rounds=3)


def _hyperanf_sql(reverse: bool = False, harmonic: bool = False) -> str:
    """DuckDB twin of q_neighborhood_sizes / q_harmonic_centrality:
    exact <= h-hop reachable sets via unrolled joins, then the
    hll_distinct register/fold/estimate chain (same md5 bucket/rho
    string arithmetic) per hop. reverse=True walks edges backwards
    (who reaches v — the harmonic-centrality direction); harmonic=True
    emits Σ_h (est_h − est_{h−1})/h instead of the per-hop rows."""
    rounds = 3
    parts = [f"""
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'n' || CAST(doc_id % 30 AS VARCHAR) AS src,
           'n' || CAST((doc_id + 1) % 30 AS VARCHAR) AS dst FROM documents
    UNION ALL
    SELECT 'n' || CAST(doc_id % 30 AS VARCHAR),
           'n' || CAST((doc_id + 7) % 30 AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 0
  ) WHERE src <> dst
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), r0 AS (
  SELECT node, node AS mem FROM nodes
)"""]
    step = (
        "SELECT e.dst, r.mem FROM e JOIN r{prev} r ON r.node = e.src"
        if reverse
        else "SELECT e.src, r.mem FROM e JOIN r{prev} r ON r.node = e.dst"
    )
    for k in range(1, rounds + 1):
        parts.append(f""", r{k} AS (
  SELECT node, mem FROM r{k - 1}
  UNION
  {step.format(prev=k - 1)}
)""")
    for k in range(rounds + 1):
        parts.append(_hll_chain_sql(f"r{k}", "node", "mem", str(k)))
        parts.append(f""", est{k} AS (
  SELECT node, CAST({k} AS BIGINT) AS hop,
         round({_hll_est_expr()}, 4) AS est
  FROM folded{k}
)""")
    if harmonic:
        joins = " ".join(
            f"JOIN est{k} e{k} USING (node)" for k in range(1, rounds + 1)
        )
        terms = " + ".join(
            f"(e{k}.est - e{k - 1}.est) / {k}" for k in range(1, rounds + 1)
        )
        parts.append(
            f"\nSELECT node, round({terms}, 4) AS centrality\n"
            f"FROM est0 e0 {joins}"
        )
    else:
        sel = "\nUNION ALL\n".join(
            f"SELECT node, hop, est FROM est{k}" for k in range(rounds + 1)
        )
        parts.append("\n" + sel)
    return "".join(parts)


SQL_NEIGHBORHOOD_SIZES = _hyperanf_sql()


# 17ac. harmonic_centrality — Boldi-Vigna centrality from HyperANF
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (graph.harmonic_centrality) on the same
    directed mod-30 ring+chords graph as neighborhood_sizes: H(v) ≈
    Σ_h (N̂(v,h)−N̂(v,h−1))/h over 3 hops, with the sketch propagated
    along REVERSED edges (who reaches v). The twin repeats the exact
    reachable-set register rebuild backwards and the same truncated-sum
    arithmetic."""
    from ontoemma_spark.operators.graph import harmonic_centrality

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 30).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    chords = docs.filter(d % 3 == 0).select(
        node(d).alias("src"), node(d + 7).alias("dst")
    )
    return harmonic_centrality(ring.unionAll(chords), rounds=3)


SQL_HARMONIC_CENTRALITY = _hyperanf_sql(reverse=True, harmonic=True)


# 17p. triangle_stats — degree-ordered triangle counting + clustering
def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and clustering coefficient
    (graph.triangle_stats) over a deterministic ring-with-chords web
    graph: nodes doc_id%60, ring edges v→v+1 and v→v+2 (every
    consecutive triple closes a triangle) plus a 7v+3 chord on every
    4th doc for irregular degrees. The twin replays the SAME
    degree-ordered orientation — wedge join + closing equi-join — so
    the driver verifies the orientation logic itself, not just the
    counts."""
    from ontoemma_spark.operators.graph import triangle_stats

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 60).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring1 = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    ring2 = docs.select(node(d).alias("src"), node(d + 2).alias("dst"))
    chord = docs.filter(d % 4 == 0).select(
        node(d).alias("src"), node(d * 7 + 3).alias("dst")
    )
    edges = ring1.unionAll(ring2).unionAll(chord)
    out = triangle_stats(edges)
    return out.select(
        "node",
        F.col("degree").cast("bigint").alias("degree"),
        F.col("triangles").cast("bigint").alias("triangles"),
        F.round("clustering", 6).alias("clustering"),
    )


SQL_TRIANGLE_STATS = """
WITH raw AS (
  SELECT 'n' || CAST(doc_id % 60 AS VARCHAR) AS src,
         'n' || CAST((doc_id + 1) % 60 AS VARCHAR) AS dst FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 60 AS VARCHAR),
         'n' || CAST((doc_id + 2) % 60 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 60 AS VARCHAR),
         'n' || CAST((doc_id * 7 + 3) % 60 AS VARCHAR)
  FROM documents WHERE doc_id % 4 = 0
), und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst
), deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN du.degree < dv.degree
                OR (du.degree = dv.degree AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.degree < dv.degree
                OR (du.degree = dv.degree AND e.u < e.v)
              THEN e.v ELSE e.u END AS d
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), tri AS (
  SELECT e1.s AS x, e1.d AS y, e2.d AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.s = e1.d
  JOIN oriented c ON c.s = e1.s AND c.d = e2.d
), per_node AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(p.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN per_node p ON p.node = d.node
"""


# 17q. k_core — iterative periphery peel over the crawl graph
def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of a ring-with-chords graph carrying pendant 2-chains
    (graph.k_core): chain tips peel in round 1, which exposes the
    chain roots to peel in round 2 — exercising genuine multi-round
    convergence — while the dense ring (degree >= 4) survives intact.
    The fixpoint is idempotent, so the twin unrolls a FIXED 4 rounds
    and the operator early-exits on convergence; results agree because
    extra rounds are no-ops (see operator docstring)."""
    from ontoemma_spark.operators.graph import k_core

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 40).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring1 = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    ring2 = docs.select(node(d).alias("src"), node(d + 2).alias("dst"))
    c1 = docs.filter(d % 3 == 0).select(
        node(d).alias("src"),
        F.concat(F.lit("c"), (d % 40).cast("string"), F.lit("_1")).alias("dst"),
    )
    c2 = docs.filter(d % 3 == 0).select(
        F.concat(F.lit("c"), (d % 40).cast("string"), F.lit("_1")).alias("src"),
        F.concat(F.lit("c"), (d % 40).cast("string"), F.lit("_2")).alias("dst"),
    )
    edges = ring1.unionAll(ring2).unionAll(c1).unionAll(c2)
    out = k_core(edges, k=3, max_rounds=6)
    return out.select(
        "node", F.col("degree").cast("bigint").alias("degree")
    )


def _k_core_sql() -> str:
    """Unrolled 3-core peel: degrees -> under-3 nodes -> anti-join,
    repeated 4 times (>= the fixture's convergence depth of 2). Each
    round's CTEs are MATERIALIZED: inlined, every e{i} would expand
    e{i-1} three times over, which DuckDB plans exponentially."""
    k, rounds = 3, 4
    parts = ["""
WITH raw AS (
  SELECT 'n' || CAST(doc_id % 40 AS VARCHAR) AS src,
         'n' || CAST((doc_id + 1) % 40 AS VARCHAR) AS dst FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 40 AS VARCHAR),
         'n' || CAST((doc_id + 2) % 40 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 40 AS VARCHAR),
         'c' || CAST(doc_id % 40 AS VARCHAR) || '_1'
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'c' || CAST(doc_id % 40 AS VARCHAR) || '_1',
         'c' || CAST(doc_id % 40 AS VARCHAR) || '_2'
  FROM documents WHERE doc_id % 3 = 0
), e0 AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst
)"""]
    for i in range(1, rounds + 1):
        parts.append(f""", bad{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT u AS node FROM e{i - 1} UNION ALL SELECT v AS node FROM e{i - 1}
  ) GROUP BY node HAVING COUNT(*) < {k}
), e{i} AS MATERIALIZED (
  SELECT u, v FROM e{i - 1} e
  WHERE NOT EXISTS (SELECT 1 FROM bad{i} b WHERE b.node = e.u)
    AND NOT EXISTS (SELECT 1 FROM bad{i} b WHERE b.node = e.v)
)""")
    parts.append(f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT u AS node FROM e{rounds} UNION ALL SELECT v AS node FROM e{rounds}
) GROUP BY node""")
    return "".join(parts)


SQL_K_CORE = _k_core_sql()


# 17r. random_walks — deterministic DeepWalk corpus generation
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform random walks (graph.random_walks) over the symmetrized
    ring-with-chords graph — the skip-gram training corpus for KG
    embeddings. Walk steps are md5-derandomized (neighbor index =
    md5(walk:step:node) % degree over the SORTED adjacency list), so
    the twin replays every step exactly: same row_number adjacency
    index, same hex-parse pick."""
    from ontoemma_spark.operators.graph import random_walks

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 30).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    edges = docs.select(node(d).alias("src"), node(d + 1).alias("dst")).unionAll(
        docs.select(node(d).alias("src"), node(d * 3 + 1).alias("dst"))
    )
    out = random_walks(edges, length=3, walks_per_node=2)
    return out.select("walk_id", F.array_join("path", " ").alias("path"))


def _random_walks_sql() -> str:
    length, wpn = 3, 2
    parts = [f"""
WITH raw AS (
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR) AS s,
         'n' || CAST((doc_id + 1) % 30 AS VARCHAR) AS d FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR),
         'n' || CAST((doc_id * 3 + 1) % 30 AS VARCHAR) FROM documents
), e AS (
  SELECT DISTINCT s, d FROM (
    SELECT s, d FROM raw WHERE s <> d
    UNION ALL SELECT d, s FROM raw WHERE s <> d
  )
), nbrs AS (
  SELECT s AS node, d AS nbr,
         row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS idx
  FROM e
), deg AS (
  SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY s
), w0 AS (
  SELECT 'w' || '-' || node || '-' || CAST(i AS VARCHAR) AS walk_id,
         node AS cur, node AS path
  FROM deg, (SELECT unnest(range({wpn})) AS i)
)"""]
    for s in range(1, length + 1):
        parts.append(f""", w{s} AS (
  SELECT w.walk_id, n.nbr AS cur, w.path || ' ' || n.nbr AS path
  FROM w{s - 1} w
  JOIN deg g ON g.node = w.cur
  JOIN nbrs n ON n.node = w.cur
   AND n.idx = CAST('0x' || substr(
         md5(w.walk_id || ':{s}:' || w.cur), 1, 8) AS BIGINT) % g.deg
)""")
    parts.append(f"""
SELECT walk_id, path FROM w{length}""")
    return "".join(parts)


SQL_RANDOM_WALKS = _random_walks_sql()


# 17s. adamic_adar — link prediction over the KG with a hub cap
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (graph.adamic_adar) over a ring
    (i—i+1) with distance-3 chords (i—i+3) plus a hub wired to every
    even node. The hub's degree (15) exceeds max_degree=10, so it is
    dropped as a wedge center — exercising the hyper-hub cap that
    bounds the quadratic wedge fan-out at crawl scale — while every
    ring node (degree 4-5) still centers wedges. Existing edges are
    anti-joined away; scores are rounded to 6 places so sum-order
    float drift between engines is absorbed (same convention as
    pagerank)."""
    from ontoemma_spark.operators.graph import adamic_adar

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 30).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    chords = docs.select(node(d).alias("src"), node(d + 3).alias("dst"))
    hub = docs.filter(d % 2 == 0).select(
        F.lit("hub").alias("src"), node(d).alias("dst")
    )
    out = adamic_adar(ring.unionAll(chords).unionAll(hub), max_degree=10)
    return out.select(
        "node_a", "node_b", F.round("score", 6).alias("score")
    )


SQL_ADAMIC_ADAR = """
WITH raw AS (
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR) AS s,
         'n' || CAST((doc_id + 1) % 30 AS VARCHAR) AS d FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR),
         'n' || CAST((doc_id + 3) % 30 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'hub', 'n' || CAST(doc_id % 30 AS VARCHAR)
  FROM documents WHERE doc_id % 2 = 0
), und AS (
  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
  FROM raw WHERE s <> d
), half AS (
  SELECT u AS y, v AS n FROM und UNION ALL SELECT v, u FROM und
), deg AS (
  SELECT y, COUNT(*) AS deg FROM half GROUP BY y
), adj AS (
  SELECT h.y, h.n, 1.0 / ln(CAST(g.deg AS DOUBLE)) AS w
  FROM half h JOIN deg g ON g.y = h.y
  WHERE g.deg BETWEEN 2 AND 10
), pairs AS (
  SELECT a.n AS node_a, b.n AS node_b, SUM(a.w) AS score
  FROM adj a JOIN adj b ON a.y = b.y AND a.n < b.n
  GROUP BY a.n, b.n
)
SELECT node_a, node_b, ROUND(score, 6) AS score
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM und e WHERE e.u = p.node_a AND e.v = p.node_b
)
"""


# 17t. triple_fusion — cross-page evidence rollup (Knowledge Vault shape)
def _synth_claims(docs: DataFrame) -> DataFrame:
    """Deterministic conflicting-claim fixture over documents: host by
    doc_id%7, subject by %40, predicate by %3, object by (doc_id//40)%3
    — so each (subj, pred) group collects claims from several hosts
    with genuinely conflicting objects (doc_id//40 varies across the
    mod-120 residue class that fixes subj+pred)."""
    d = F.col("doc_id")
    return docs.select(
        F.concat(
            F.lit("http://h"), (d % 7).cast("string"),
            F.lit(".ex.com/p"), d.cast("string"),
        ).alias("url"),
        F.concat(F.lit("s"), (d % 40).cast("string")).alias("subj"),
        F.when(d % 3 == 0, F.lit("born_in"))
        .when(d % 3 == 1, F.lit("capital_of"))
        .otherwise(F.lit("works_at"))
        .alias("pred"),
        F.concat(F.lit("o"), (F.floor(d / 40) % 3).cast("string")).alias("obj"),
    )


_CLAIMS_SQL = """
  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com' AS host,
         's' || CAST(doc_id % 40 AS VARCHAR) AS subj,
         CASE doc_id % 3 WHEN 0 THEN 'born_in'
                         WHEN 1 THEN 'capital_of'
                         ELSE 'works_at' END AS pred,
         'o' || CAST((doc_id // 40) % 3 AS VARCHAR) AS obj
  FROM documents
"""


def q_triple_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(s,p,o) evidence rollup (fusion.fuse_triples): support rows,
    distinct asserting hosts, noisy-or belief at flat host trust 0.7 —
    the closed-form Knowledge-Vault fusion layer. Host comes out of
    try_parse_url on the synthesized urls (NOT re-synthesized), so the
    query also pins the crawl-robust url→host path."""
    from ontoemma_spark.operators.fusion import fuse_triples

    trip = _synth_claims(_t(spark, sf_dir, "documents"))
    out = fuse_triples(trip, host_trust=0.7)
    return out.select(
        "subj", "pred", "obj",
        F.col("support").cast("bigint").alias("support"),
        F.col("n_hosts").cast("bigint").alias("n_hosts"),
        F.round("belief", 6).alias("belief"),
    )


SQL_TRIPLE_FUSION = f"""
WITH t AS ({_CLAIMS_SQL})
SELECT subj, pred, obj,
       CAST(COUNT(*) AS BIGINT) AS support,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       ROUND(1.0 - power(0.3, COUNT(DISTINCT host)), 6) AS belief
FROM t GROUP BY subj, pred, obj
"""


# 17u. functional_resolve — truth discovery + functional-predicate pick
def q_functional_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fusion chain: host_reliability (2 truth-discovery rounds,
    prior 0.8) then resolve_functional — born_in/capital_of keep ONE
    reliability-weighted winner per subject, works_at fans out with
    its vote stats. The twin unrolls both rounds (winner = row_number
    over (w DESC, obj DESC) = Spark's max-struct) — same fixed-round
    determinism contract as pagerank/k_core."""
    from ontoemma_spark.operators.fusion import (
        host_reliability,
        resolve_functional,
    )

    trip = _synth_claims(_t(spark, sf_dir, "documents"))
    rel = host_reliability(trip, iterations=2, prior=0.8)
    out = resolve_functional(
        trip, ["born_in", "capital_of"], reliability=rel
    )
    return out.select(
        "subj", "pred", "obj",
        F.col("support").cast("bigint").alias("support"),
        F.round("weight", 6).alias("weight"),
    )


def _functional_resolve_sql() -> str:
    rounds, prior = 2, 0.8
    parts = [f"""
WITH t AS ({_CLAIMS_SQL}),
c AS (SELECT DISTINCT host, subj, pred, obj FROM t),
nc AS (SELECT host, COUNT(*) AS n_claims FROM c GROUP BY host),
r0 AS (SELECT host, {prior!r} AS rel FROM nc)"""]
    for i in range(1, rounds + 1):
        parts.append(f""", w{i} AS (
  SELECT c.subj, c.pred, c.obj, SUM(r.rel) AS w
  FROM c JOIN r{i - 1} r ON r.host = c.host
  GROUP BY c.subj, c.pred, c.obj
), win{i} AS (
  SELECT subj, pred, obj FROM (
    SELECT subj, pred, obj,
           row_number() OVER (PARTITION BY subj, pred
                              ORDER BY round(w, 9) DESC, obj DESC) AS rn
    FROM w{i}
  ) WHERE rn = 1
), m{i} AS (
  SELECT c.host, COUNT(*) AS matched
  FROM c JOIN win{i} w
    ON w.subj = c.subj AND w.pred = c.pred AND w.obj = c.obj
  GROUP BY c.host
), r{i} AS (
  SELECT nc.host,
         (COALESCE(m{i}.matched, 0) + 1.0) / (nc.n_claims + 2.0) AS rel
  FROM nc LEFT JOIN m{i} ON m{i}.host = nc.host
)""")
    parts.append(f""", votes AS (
  SELECT c.subj, c.pred, c.obj,
         COUNT(*) AS support, SUM(r.rel) AS weight
  FROM c JOIN r{rounds} r ON r.host = c.host
  GROUP BY c.subj, c.pred, c.obj
)
SELECT subj, pred, obj, CAST(support AS BIGINT) AS support,
       ROUND(weight, 6) AS weight
FROM votes WHERE pred NOT IN ('born_in', 'capital_of')
UNION ALL
SELECT subj, pred, obj, CAST(support AS BIGINT) AS support,
       ROUND(weight, 6) AS weight
FROM (
  SELECT subj, pred, obj, support, weight,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY round(weight, 9) DESC, support DESC,
                                     obj DESC) AS rn
  FROM votes WHERE pred IN ('born_in', 'capital_of')
) WHERE rn = 1""")
    return "".join(parts)


SQL_FUNCTIONAL_RESOLVE = _functional_resolve_sql()


# 17c. incremental_dedup — batch-vs-corpus probe against dedup_state
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: docs < 250 are the already-admitted
    corpus (dedup_state: content hashes + distinct LSH band vocab);
    docs 250..499 are the new batch, with every 7th an exact rehit of
    prior doc (id-250) and every 7th+1 that text plus a tail (a near
    rehit when enough minhash mins survive — both engines compute the
    same collision, so the flag is deterministic). Returns the flagged
    batch (dedup.incremental_dedup)."""
    from ontoemma_spark.operators.dedup import dedup_state, incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") < 250).select("doc_id", "text")
    pri = prior.select(
        F.col("doc_id").alias("_pid"), F.col("text").alias("_ptext")
    )
    base = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    batch = base.join(
        pri, base["doc_id"] - 250 == pri["_pid"]
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.col("_ptext"))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.col("_ptext"), F.lit(" qq")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hashes, bands_tbl = dedup_state(
        prior, w=SHINGLE_W, num_hashes=NUM_MINHASHES, bands=LSH_BANDS
    )
    return incremental_dedup(
        batch, hashes, bands_tbl,
        w=SHINGLE_W, num_hashes=NUM_MINHASHES, bands=LSH_BANDS,
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "content_hash", "exact_dup", "near_dup",
    )


# 17v. kg_asof — as-of lookup against versioned KG fact state
def q_kg_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join (temporal.asof_join): versioned
    entity facts (entity = doc_id%40, a new version every 40 ids at
    valid_from = (doc_id//40)*10) probed by per-doc query timestamps
    (ts = doc_id%130 - 5, so early queries predate every version and
    must come back null — left semantics). Single-shuffle union-tag
    plan, no inequality-join explosion; the twin is the textbook
    lateral argmax. Epoch bigints, not timestamps (engine-portable,
    see TESTDATA notes)."""
    from ontoemma_spark.operators.temporal import asof_join

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    facts = docs.select(
        F.concat(F.lit("e"), (d % 40).cast("string")).alias("key"),
        (F.floor(d / 40) * 10).cast("bigint").alias("valid_from"),
        F.concat(F.lit("o"), (F.floor(d / 40) % 3).cast("string")).alias("val"),
    )
    qs = docs.select(
        d.cast("bigint").alias("qid"),
        F.concat(F.lit("e"), ((d * 7) % 40).cast("string")).alias("key"),
        (d % 130 - 5).cast("bigint").alias("ts"),
    )
    return asof_join(qs, facts, on="key", query_ts="ts", fact_ts="valid_from").select(
        "qid", "key", "ts",
        F.col("valid_from").cast("bigint").alias("valid_from"), "val",
    )


SQL_KG_ASOF = """
WITH facts AS (
  SELECT DISTINCT 'e' || CAST(doc_id % 40 AS VARCHAR) AS key,
         CAST((doc_id // 40) * 10 AS BIGINT) AS valid_from,
         'o' || CAST((doc_id // 40) % 3 AS VARCHAR) AS val
  FROM documents
), q AS (
  SELECT CAST(doc_id AS BIGINT) AS qid,
         'e' || CAST((doc_id * 7) % 40 AS VARCHAR) AS key,
         CAST(doc_id % 130 - 5 AS BIGINT) AS ts
  FROM documents
), j AS (
  SELECT q.qid, q.key, q.ts, f.valid_from, f.val,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY f.valid_from DESC) AS rn
  FROM q LEFT JOIN facts f ON f.key = q.key AND f.valid_from <= q.ts
)
SELECT qid, key, ts, valid_from, val FROM j WHERE rn = 1
"""


# 17v2. version_intervals — SCD-2 validity windows from versioned facts
def q_version_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned facts → half-open validity intervals
    (temporal.version_intervals): valid_to = next version's
    valid_from per entity, open end filled with 10**6 so the column
    stays bigint-comparable across engines. Same fact synthesis as
    kg_asof — the two queries are inverse views of one versioned
    state."""
    from ontoemma_spark.operators.temporal import version_intervals

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    facts = docs.select(
        F.concat(F.lit("e"), (d % 40).cast("string")).alias("key"),
        (F.floor(d / 40) * 10).cast("bigint").alias("valid_from"),
        F.concat(F.lit("o"), (F.floor(d / 40) % 3).cast("string")).alias("val"),
    )
    return version_intervals(facts, on="key", open_end=10**6).select(
        "key", "valid_from", "valid_to", "val"
    )


SQL_VERSION_INTERVALS = """
WITH facts AS (
  SELECT DISTINCT 'e' || CAST(doc_id % 40 AS VARCHAR) AS key,
         CAST((doc_id // 40) * 10 AS BIGINT) AS valid_from,
         'o' || CAST((doc_id // 40) % 3 AS VARCHAR) AS val
  FROM documents
)
SELECT key, valid_from,
       COALESCE(LEAD(valid_from) OVER (PARTITION BY key
                                       ORDER BY valid_from),
                1000000) AS valid_to,
       val
FROM facts
"""


# 17w. interval_points — fetch-time → crawl-window assignment
def q_interval_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join (temporal.interval_join): 20 overlapping
    crawl windows [iid*50, iid*50+80) probed by per-doc fetch times
    (doc_id*37 % 1100, so some fall in two windows and some in none).
    bucket_width=64 deliberately divides nothing, exercising the
    floor-bucket edges; the plan is an equi-join on the bucket id
    (plan-asserted: no BroadcastNestedLoopJoin), the twin the naive
    range predicate."""
    from ontoemma_spark.operators.temporal import interval_join

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ivs = docs.filter(d < 20).select(
        d.cast("bigint").alias("iid"),
        (d * 50).cast("bigint").alias("start"),
        (d * 50 + 80).cast("bigint").alias("end"),
    )
    pts = docs.select(
        d.cast("bigint").alias("pid"),
        ((d * 37) % 1100).cast("bigint").alias("t"),
    )
    return interval_join(pts, ivs, bucket_width=64).select(
        "pid", "t", "iid", "start", "end"
    )


SQL_INTERVAL_POINTS = """
WITH ivs AS (
  SELECT CAST(doc_id AS BIGINT) AS iid,
         CAST(doc_id * 50 AS BIGINT) AS start,
         CAST(doc_id * 50 + 80 AS BIGINT) AS "end"
  FROM documents WHERE doc_id < 20
), pts AS (
  SELECT CAST(doc_id AS BIGINT) AS pid,
         CAST((doc_id * 37) % 1100 AS BIGINT) AS t
  FROM documents
)
SELECT pid, t, iid, start, "end" AS end
FROM pts JOIN ivs ON ivs.start <= pts.t AND pts.t < ivs."end"
"""


# 17x. scc_components — directed SCCs over the link graph
def q_scc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (components.strongly_connected_
    components) over a synthetic link graph with the web's bow-tie
    anatomy: ten 6-cycles (blocks of zero-padded node ids, each one
    SCC), one-directional cross links between block pairs (a DAG
    between SCCs — settles in the second coloring round), and two
    periphery singletons (pure-source nz0, pure-sink nz1 — settled by
    the degree trim). component = min node id in the SCC; the twin is
    recursive-CTE mutual reachability, tractable at fixture scale."""
    from ontoemma_spark.operators.components import strongly_connected_components

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id") % 60
    node = lambda c: F.concat(F.lit("n"), F.lpad(c.cast("string"), 2, "0"))  # noqa: E731
    ring = docs.select(
        node(i).alias("src"),
        node(F.floor(i / 6) * 6 + (i % 6 + 1) % 6).alias("dst"),
    )
    cross = docs.filter(i % 12 == 0).select(
        node(i).alias("src"), node(i + 6).alias("dst")
    )
    one = docs.filter(F.col("doc_id") == 0)
    periphery = one.select(
        F.lit("nz0").alias("src"), F.lit("n00").alias("dst")
    ).unionAll(one.select(F.lit("n59").alias("src"), F.lit("nz1").alias("dst")))
    edges = ring.unionAll(cross).unionAll(periphery)
    return strongly_connected_components(edges)


SQL_SCC_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'n' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS src,
           'n' || lpad(CAST(((doc_id % 60) // 6) * 6
                            + ((doc_id % 60) % 6 + 1) % 6 AS VARCHAR),
                       2, '0') AS dst
    FROM documents
    UNION ALL
    SELECT 'n' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0'),
           'n' || lpad(CAST(doc_id % 60 + 6 AS VARCHAR), 2, '0')
    FROM documents WHERE (doc_id % 60) % 12 = 0
    UNION ALL
    SELECT 'nz0', 'n00' UNION ALL SELECT 'n59', 'nz1'
  )
), reach(s, d) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.s, e2.dst FROM reach r JOIN e e2 ON e2.src = r.d
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), mutual AS (
  SELECT node, node AS m FROM nodes
  UNION
  SELECT a.s, a.d FROM reach a JOIN reach b ON b.s = a.d AND b.d = a.s
)
SELECT node, MIN(m) AS component FROM mutual GROUP BY node
"""


# 17x2. bow_tie — Broder web anatomy: core / in / out / tendrils
def q_bow_tie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bow-tie classification (components.bow_tie_classes) over a
    fixture with the full anatomy: one 12-cycle (nodes n00-n11, the
    unique largest SCC = core), a block the core points into (n12-n17:
    OUT), a block that points into the core (n18-n23: IN), six
    disconnected 6-cycles (tendril_or_disconnected), and two
    periphery singletons (nz0 → core: IN; core → nz1: OUT). The twin
    recomputes SCCs by recursive-CTE mutual reachability, picks the
    same deterministic core (max size, tie → min id), and classifies
    by reachability to/from it."""
    from ontoemma_spark.operators.components import bow_tie_classes

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id") % 60
    node = lambda c: F.concat(F.lit("n"), F.lpad(c.cast("string"), 2, "0"))  # noqa: E731
    ring = docs.select(
        node(i).alias("src"),
        F.when(i < 12, node((i + 1) % 12))
        .otherwise(node(F.floor(i / 6) * 6 + (i % 6 + 1) % 6))
        .alias("dst"),
    )
    one = docs.filter(F.col("doc_id") == 0)
    extras = (
        one.select(F.lit("n00").alias("src"), F.lit("n12").alias("dst"))
        .unionAll(one.select(F.lit("n18"), F.lit("n00")))
        .unionAll(one.select(F.lit("nz0"), F.lit("n00")))
        .unionAll(one.select(F.lit("n05"), F.lit("nz1")))
    )
    return bow_tie_classes(ring.unionAll(extras))


SQL_BOW_TIE = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'n' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS src,
           CASE WHEN doc_id % 60 < 12
                THEN 'n' || lpad(CAST((doc_id % 60 + 1) % 12 AS VARCHAR), 2, '0')
                ELSE 'n' || lpad(CAST(((doc_id % 60) // 6) * 6
                                      + ((doc_id % 60) % 6 + 1) % 6 AS VARCHAR),
                                 2, '0')
           END AS dst
    FROM documents
    UNION ALL SELECT 'n00', 'n12'
    UNION ALL SELECT 'n18', 'n00'
    UNION ALL SELECT 'nz0', 'n00'
    UNION ALL SELECT 'n05', 'nz1'
  ) WHERE src <> dst
), reach(s, d) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.s, e2.dst FROM reach r JOIN e e2 ON e2.src = r.d
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), mutual AS (
  SELECT node, node AS m FROM nodes
  UNION
  SELECT a.s, a.d FROM reach a JOIN reach b ON b.s = a.d AND b.d = a.s
), scc AS (
  SELECT node, MIN(m) AS component FROM mutual GROUP BY node
), core AS (
  SELECT component FROM scc GROUP BY component
  ORDER BY COUNT(*) DESC, component LIMIT 1
), core_nodes AS (
  SELECT node FROM scc WHERE component = (SELECT component FROM core)
)
SELECT s.node, s.component,
       CASE WHEN s.component = (SELECT component FROM core) THEN 'core'
            WHEN EXISTS (SELECT 1 FROM reach r JOIN core_nodes c
                         ON r.s = s.node AND r.d = c.node) THEN 'in'
            WHEN EXISTS (SELECT 1 FROM reach r JOIN core_nodes c
                         ON r.s = c.node AND r.d = s.node) THEN 'out'
            ELSE 'tendril_or_disconnected' END AS cls
FROM scc s
"""


# 17x3. boilerplate_removal — per-host template-line strip (RefinedWeb)
def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate line removal (textstats.host_boilerplate_
    lines → remove_boilerplate_lines): every page on a host shares a
    TOP-nav and FOOTER line (≥min_frac of the host's docs → stripped);
    'promo' appears on only half of host h0's pages (< min_frac=0.6 →
    kept); the unique body line always survives. Corpus-wide paragraph
    dedup can't catch these — the lines are host-local template, not
    global repeats."""
    from ontoemma_spark.operators.textstats import (
        host_boilerplate_lines,
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"))
    pages = docs.select(
        d.cast("bigint").alias("doc_id"),
        host.alias("host"),
        F.concat(
            F.lit("TOP nav "), host, F.lit("\n"),
            F.lit("body "), d.cast("string"),
            F.when(d % 10 == 0, F.lit("\npromo")).otherwise(F.lit("")),
            F.lit("\nFOOTER"),
        ).alias("text"),
    )
    from pyspark import StorageLevel

    pages = pages.persist(StorageLevel.MEMORY_AND_DISK)
    boiler = host_boilerplate_lines(pages, min_frac=0.6, min_docs=2)
    return remove_boilerplate_lines(pages, boiler)


SQL_BOILERPLATE_REMOVAL = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
         'TOP nav h' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
         'body ' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'promo' ELSE '' END ||
         chr(10) || 'FOOTER' AS text
  FROM documents
), hd AS (
  SELECT host, COUNT(DISTINCT doc_id) AS host_docs FROM d GROUP BY host
), pl AS (
  SELECT doc_id, host,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM d
), lc AS (
  SELECT host, line, COUNT(DISTINCT doc_id) AS n_docs
  FROM pl GROUP BY host, line
), boiler AS (
  SELECT lc.host, lc.line FROM lc JOIN hd USING (host)
  WHERE n_docs >= 2 AND n_docs >= host_docs * 0.6
), kept AS (
  SELECT p.doc_id, p.line, p.pos FROM pl p
  WHERE NOT EXISTS (SELECT 1 FROM boiler b
                    WHERE b.host = p.host AND b.line = p.line)
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos, line) AS text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, d.host, COALESCE(r.text, '') AS text
FROM d LEFT JOIN rebuilt r USING (doc_id)
"""


# 17y. kg_diff — added/removed/kept audit between two KG snapshots
def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (graph.snapshot_diff): the old snapshot holds
    claims from docs with doc_id%5 != 0, the new one doc_id%3 != 0
    with every 7th doc's object drifted one step — so the diff shows
    genuine adds (new-only docs), removes (old-only + drifted-away
    objects), and kept triples, at any sf. ONE full-outer equi join;
    the twin mirrors it."""
    from ontoemma_spark.operators.graph import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def claims(df, drift):
        return df.select(
            F.concat(F.lit("s"), (d % 40).cast("string")).alias("subj"),
            F.when(d % 3 == 0, F.lit("born_in"))
            .when(d % 3 == 1, F.lit("capital_of"))
            .otherwise(F.lit("works_at"))
            .alias("pred"),
            F.concat(
                F.lit("o"),
                ((F.floor(d / 40) + drift) % 3).cast("string"),
            ).alias("obj"),
        )

    old = claims(docs.filter(d % 5 != 0), F.lit(0))
    new = claims(
        docs.filter(d % 3 != 0), (d % 7 == 0).cast("int")
    )
    return snapshot_diff(old, new)


SQL_KG_DIFF = """
WITH o AS (
  SELECT DISTINCT 's' || CAST(doc_id % 40 AS VARCHAR) AS subj,
         CASE doc_id % 3 WHEN 0 THEN 'born_in' WHEN 1 THEN 'capital_of'
              ELSE 'works_at' END AS pred,
         'o' || CAST((doc_id // 40) % 3 AS VARCHAR) AS obj,
         1 AS _o
  FROM documents WHERE doc_id % 5 <> 0
), n AS (
  SELECT DISTINCT 's' || CAST(doc_id % 40 AS VARCHAR) AS subj,
         CASE doc_id % 3 WHEN 0 THEN 'born_in' WHEN 1 THEN 'capital_of'
              ELSE 'works_at' END AS pred,
         'o' || CAST((doc_id // 40 + CASE WHEN doc_id % 7 = 0 THEN 1
                                          ELSE 0 END) % 3 AS VARCHAR) AS obj,
         1 AS _n
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT subj, pred, obj,
       CASE WHEN _o IS NULL THEN 'added'
            WHEN _n IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM o FULL OUTER JOIN n USING (subj, pred, obj)
"""


# 17z. entity_properties — wide property-table pivot
def q_entity_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-table materialization (graph.entity_property_table):
    one row per subject, one column per listed functional predicate —
    explicit-values pivot, ONE grouped aggregate with map-side partial
    max (no distinct-discovery job). The 'likes' predicate stays
    unpivoted and is filtered before the shuffle; subjects carrying
    only 'likes' don't appear."""
    from ontoemma_spark.operators.graph import entity_property_table

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    trip = docs.select(
        F.concat(F.lit("s"), (d % 40).cast("string")).alias("subj"),
        F.when(d % 4 == 0, F.lit("born_in"))
        .when(d % 4 == 1, F.lit("capital_of"))
        .when(d % 4 == 2, F.lit("works_at"))
        .otherwise(F.lit("likes"))
        .alias("pred"),
        F.concat(F.lit("o"), (F.floor(d / 40) % 3).cast("string")).alias("obj"),
    )
    return entity_property_table(trip, ["born_in", "capital_of", "works_at"])


SQL_ENTITY_PROPERTIES = """
WITH t AS (
  SELECT 's' || CAST(doc_id % 40 AS VARCHAR) AS subj,
         CASE doc_id % 4 WHEN 0 THEN 'born_in' WHEN 1 THEN 'capital_of'
              WHEN 2 THEN 'works_at' ELSE 'likes' END AS pred,
         'o' || CAST((doc_id // 40) % 3 AS VARCHAR) AS obj
  FROM documents
)
SELECT subj,
       MAX(CASE WHEN pred = 'born_in' THEN obj END) AS born_in,
       MAX(CASE WHEN pred = 'capital_of' THEN obj END) AS capital_of,
       MAX(CASE WHEN pred = 'works_at' THEN obj END) AS works_at
FROM t WHERE pred IN ('born_in', 'capital_of', 'works_at')
GROUP BY subj
"""


# 17aa. degree_histogram — log2-binned crawl-graph degree distribution
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned in/out-degree histogram (graph.degree_histogram)
    over the ring+chords+hub graph from the adamic_adar fixture —
    the hub's in-degree lands in a high bin on its own, the ring
    nodes cluster in low bins. Binning is conv-to-binary string
    length (integer-exact at power-of-two boundaries on both engines,
    never float log2)."""
    from ontoemma_spark.operators.graph import degree_histogram

    docs = _t(spark, sf_dir, "documents")
    node = lambda c: F.concat(F.lit("n"), (c % 30).cast("string"))  # noqa: E731
    d = F.col("doc_id")
    ring = docs.select(node(d).alias("src"), node(d + 1).alias("dst"))
    chords = docs.select(node(d).alias("src"), node(d + 3).alias("dst"))
    hub = docs.filter(d % 2 == 0).select(
        F.lit("hub").alias("src"), node(d).alias("dst")
    )
    return degree_histogram(ring.unionAll(chords).unionAll(hub))


SQL_DEGREE_HISTOGRAM = """
WITH raw AS (
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR) AS src,
         'n' || CAST((doc_id + 1) % 30 AS VARCHAR) AS dst FROM documents
  UNION ALL
  SELECT 'n' || CAST(doc_id % 30 AS VARCHAR),
         'n' || CAST((doc_id + 3) % 30 AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'hub', 'n' || CAST(doc_id % 30 AS VARCHAR)
  FROM documents WHERE doc_id % 2 = 0
), ends AS (
  SELECT src AS node, 'out' AS kind FROM raw
  UNION ALL
  SELECT dst, 'in' FROM raw
), deg AS (
  SELECT kind, node, COUNT(*) AS degree FROM ends GROUP BY kind, node
)
SELECT kind, CAST(length(bin(degree)) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY kind, bin
"""


def _sql_sig_chain(src: str, p: str) -> str:
    """CTE fragments computing the minhash signature + band table of
    `src` (doc_id, text), prefixed `p` — the twin of
    minhash_signatures_narrow ∘ band_hashes."""
    mins = ", ".join(
        f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(NUM_MINHASHES)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_hash FROM {p}sig".format(
            b=b, p=p,
            expr=" || '|' || ".join(
                f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
{p}toks AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos, tok
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM {src}
  )
), {p}sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           concat_ws(' ', tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)) AS shingle,
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS _last
    FROM {p}toks
  ) WHERE _last IS NOT NULL
), {p}sig AS (
  SELECT doc_id, {mins} FROM {p}sh GROUP BY doc_id
), {p}bands AS (
  {bands}
)"""


SQL_INCREMENTAL_DEDUP = f"""
WITH prior AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
batch AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 7 = 0 THEN p.text
              WHEN d.doc_id % 7 = 1 THEN p.text || ' qq'
              ELSE d.text END AS text
  FROM documents d JOIN prior p ON p.doc_id = d.doc_id - 250
  WHERE d.doc_id >= 250
),
{_sql_sig_chain("prior", "p")},
{_sql_sig_chain("batch", "b")},
phash AS (SELECT DISTINCT md5(text) AS content_hash FROM prior),
pvocab AS (SELECT DISTINCT band_idx, band_hash FROM pbands),
near AS (
  SELECT DISTINCT b.doc_id
  FROM bbands b JOIN pvocab v USING (band_idx, band_hash)
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       md5(b.text) AS content_hash,
       (ph.content_hash IS NOT NULL) AS exact_dup,
       (n.doc_id IS NOT NULL) AS near_dup
FROM batch b
LEFT JOIN phash ph ON md5(b.text) = ph.content_hash
LEFT JOIN near n ON n.doc_id = b.doc_id
"""


# 17b. dedup_resolve — the dedup APPLY step: pairs → clusters → survivors
def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup end-to-end: LSH near-dup pairs → connected-component
    duplicate clusters → one canonical survivor (min doc_id) per
    cluster, mapped over the FULL corpus. One row per document:
    filter(is_canonical) is the kept set, the rest is the removal
    manifest. CC runs on the pair graph only (LSH survivors)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = q_lsh_dup_candidates(spark, sf_dir).select("doc_a", "doc_b")
    return D.resolve_duplicate_clusters(docs, pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("canonical_id").cast("bigint").alias("canonical_id"),
        "is_canonical",
    )


# the duplicate-cluster closure is a recursive reachability fixpoint
# (component = min doc reachable over symmetrized dup edges) — the same
# generic-CC oracle pattern SQL_KG_PIPELINE uses for entity canonical ids.
SQL_DEDUP_RESOLVE = (
    _SHINGLE_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + _LSH_JAC_CTES
    + """
, edges AS MATERIALIZED (
  -- the recursive walk re-inlines referenced CTEs per iteration;
  -- MATERIALIZED keeps the LSH chain from re-executing every round
  SELECT doc_a AS src, doc_b AS dst FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
walk AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT e.dst, w.reach FROM walk w JOIN edges e ON w.node = e.src
),
cc AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS canonical_id,
       coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN cc c ON d.doc_id = c.node
"""
)


# 18. simhash — per-doc 16-bit SimHash
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16 bits from md5 nibble high-bits over distinct
    shingles), zero-shuffle narrow form."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_bits_narrow(docs, w=SHINGLE_W).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "simhash"
    )


_SIMHASH_SUMS = ", ".join(
    "sum(CASE WHEN substr(md5(shingle), {i}, 1) IN ('8','9','a','b','c','d','e','f')"
    " THEN 1 ELSE -1 END) AS b{j}".format(i=i + 1, j=i)
    for i in range(16)
)
_SIMHASH_BITS = " || ".join(f"(CASE WHEN b{i} > 0 THEN '1' ELSE '0' END)" for i in range(16))

SQL_SIMHASH = _SHINGLE_CTE + f"""
, agg AS (SELECT doc_id, {_SIMHASH_SUMS} FROM sh GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SIMHASH_BITS} AS simhash FROM agg
"""


# 19. ngram_jaccard_dups — exact pairwise n-gram jaccard (blocked)
def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise jaccard ≥ JACCARD_MIN, ADAPTIVE physical strategy
    (dedup.ngram_jaccard_pairs_auto): one stats job measures the
    postings index, then picks the broadcast-postings kernel (index
    measured-small — bounded collect, same legitimacy as a broadcast
    hash join build side) or the relational blocked self-join. Misuse
    cannot OOM the driver: the collect path is gated on the measured
    count and the fallback is fully distributed. Both paths
    bit-identical (tests/test_broadcast_index.py)."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_auto(
        docs, w=SHINGLE_W, min_jaccard=JACCARD_MIN
    ).select(
        F.col("doc_a").cast("bigint"), F.col("doc_b").cast("bigint"),
        F.round("jaccard", 6).alias("jaccard"),
    )


SQL_NGRAM_JACCARD_DUPS = _SHINGLE_CTE + f"""
, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE i / (sa.n + sb.n - i) >= {JACCARD_MIN!r}
"""


def q_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (CC-Net / dedup-makes-LMs-better style,
    complement to document-level LSH): doc pairs sharing ≥1 distinct
    20-word gram, with the shared-gram count. Narrow in-row gram
    extraction; the pair step is a banded equi-self-join on the gram
    hash (never all-pairs; hot-gram broadcast anti-join guard at
    scale — see dedup.substring_dup_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return D.substring_dup_pairs(docs, w=20).select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        F.col("n_shared_grams"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-Net-style paragraph dedup: sentences occurring in more than
    one place corpus-wide are dropped (first occurrence kept) and docs
    are rebuilt. A boilerplate sentence is appended to every doc (plus
    a unique tail) so the dedup provably fires: exactly one doc keeps
    the boilerplate. Unit split is the portable replace-then-split
    sentence spec (no lookbehind — DuckDB's RE2 has none). Skew-safe:
    first-occurrence is a combinable min(struct) agg, never a window
    over a hot paragraph's occurrences."""
    from ontoemma_spark.operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". Standard legal boilerplate sentence appears everywhere. "
                  "Unique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    unit = F.split(
        F.regexp_replace(F.col("text"), "([.!?]) ", "$1\u0001"), "\u0001"
    )
    return paragraph_dedup(docs, paras_col=unit, sep="\n").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text", "n_paras", "n_kept",
    )


SQL_PARAGRAPH_DEDUP = """
WITH pages AS (
  SELECT doc_id,
         text || '. Standard legal boilerplate sentence appears everywhere. Unique tail '
              || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), parts AS (
  -- empty/null units are dropped before dedup (operator contract);
  -- relative order is preserved so positions compare identically
  SELECT doc_id, i - 1 AS pos, para
  FROM (
    SELECT doc_id,
           unnest(string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1))) AS para,
           generate_subscripts(string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1)), 1) AS i
    FROM pages
  )
  WHERE para IS NOT NULL AND para <> ''
), flagged AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
  FROM parts
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS text,
       count(*) AS n_paras,
       -- CAST: DuckDB sum() yields HUGEINT -> pandas float64, which the
       -- driver's exact value-hash renders as '203.0' vs Spark's '203'
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flagged GROUP BY doc_id
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL exact dedup — the first dedup pass of a
    Common-Crawl pipeline (textstats.normalize_url: drop scheme, lower
    host, strip www/trailing-slash/tracking-params, sort the rest).
    Four messy variants of each synthetic resource (case, www, param
    order, utm/fbclid/gclid junk, trailing slash) must collapse to ONE
    canonical group. Narrow normalization + one map-side-combinable
    hash-groupBy — the 10^12-page shape."""
    from ontoemma_spark.operators.textstats import normalize_url

    docs = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("https://WWW.EXAMPLE"), g,
                                F.lit(".COM/page/"), g,
                                F.lit("/?utm_source=feed&b=2&a=1")))
        .when(v == 1, F.concat(F.lit("http://example"), g,
                               F.lit(".com/page/"), g, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("https://example"), g,
                               F.lit(".com/page/"), g,
                               F.lit("/?b=2&a=1&fbclid=xyz")))
        .otherwise(F.concat(F.lit("https://www.example"), g,
                            F.lit(".com/page/"), g,
                            F.lit("?b=2&a=1&gclid=q")))
    )
    pages = docs.select(F.col("doc_id"), raw.alias("url"))
    return (
        pages.groupBy(normalize_url("url").alias("canon_url"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# DuckDB twin of normalize_url (no parse_url there): host/path/query by
# regex — host excludes the port like Spark's parse_url HOST does.
SQL_URL_DEDUP = """
WITH pages AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://WWW.EXAMPLE' || CAST(doc_id % 50 AS VARCHAR)
                       || '.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
                       || '/?utm_source=feed&b=2&a=1'
           WHEN 1 THEN 'http://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
           WHEN 2 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id % 50 AS VARCHAR)
                       || '/?b=2&a=1&fbclid=xyz'
           ELSE 'https://www.example' || CAST(doc_id % 50 AS VARCHAR)
                || '.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?b=2&a=1&gclid=q'
         END AS url
  FROM documents
), norm AS (
  SELECT doc_id,
         -- port clause elided: fixture URLs are portless (normalize_url
         -- keeps non-default ports; :80/:443 strip)
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)),
                        '^www\\.', '')
         || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                           '/+$', '')
         || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
  FROM (
    SELECT doc_id, url,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)')
           )), '&') AS qs
    FROM pages
  )
)
SELECT canon_url, count(*) AS n_pages, CAST(min(doc_id) AS BIGINT) AS first_doc
FROM norm GROUP BY canon_url
"""


def q_host_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/dev/test split: every page of a host lands in
    ONE split, decided by md5(salt:host) against precomputed hex
    thresholds — zero-shuffle, incrementally stable (a new crawl batch
    never moves an existing host). 100 synthetic hosts × ~5 pages over
    the documents table (curation.leakage_safe_split)."""
    from ontoemma_spark.operators.curation import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://Host"), (F.col("doc_id") % 100).cast("string"),
            F.lit(".example.com/article/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return leakage_safe_split(pages).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "host", "split",
    )


# DuckDB twin: host by regex (Spark parse_url HOST keeps www, drops
# the port), same md5 hex-threshold draw. 0.9*16^8 = e6666666,
# 0.95*16^8 = f3333333.
SQL_HOST_SPLIT = """
WITH pages AS (
  SELECT doc_id,
         'https://Host' || CAST(doc_id % 100 AS VARCHAR)
         || '.example.com/article/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), hosted AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host
  FROM pages
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, host,
       CASE WHEN substr(md5('split:' || host), 1, 8) < 'e6666666' THEN 'train'
            WHEN substr(md5('split:' || host), 1, 8) < 'f3333333' THEN 'dev'
            ELSE 'test' END AS split
FROM hosted
"""


def q_web_dedup_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl stage-0 dedup, the order a CC pipeline runs it:
    canonical-URL dedup (cheapest, exact — keep min doc_id per
    canonical url) → paragraph-level dedup over the URL survivors →
    exact content rollup of the rebuilt texts. Same messy-URL-variant
    synthesis as url_dedup plus an appended boilerplate sentence so
    both later stages provably fire. Every stage is the already-tested
    operator — composition, not new math; all three are narrow or
    single-agg shapes (no join bigger than doc_id)."""
    from ontoemma_spark.operators.dedup import paragraph_dedup
    from ontoemma_spark.operators.textstats import normalize_url

    docs = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("https://WWW.EXAMPLE"), g,
                                F.lit(".COM/page/"), g,
                                F.lit("/?utm_source=feed&b=2&a=1")))
        .when(v == 1, F.concat(F.lit("http://example"), g,
                               F.lit(".com/page/"), g, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("https://example"), g,
                               F.lit(".com/page/"), g,
                               F.lit("/?b=2&a=1&fbclid=xyz")))
        .otherwise(F.concat(F.lit("https://www.example"), g,
                            F.lit(".com/page/"), g,
                            F.lit("?b=2&a=1&gclid=q")))
    )
    pages = docs.select(
        "doc_id",
        normalize_url(raw).alias("canon_url"),
        F.concat(
            F.col("text"),
            F.lit(". Standard legal boilerplate sentence appears everywhere. "
                  "Unique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    url_survivors = (
        pages.groupBy("canon_url").agg(F.min("doc_id").alias("doc_id"))
        .join(pages.select("doc_id", "text"), "doc_id")
    )
    unit = F.split(
        F.regexp_replace(F.col("text"), "([.!?]) ", "$1\u0001"), "\u0001"
    )
    rebuilt = paragraph_dedup(url_survivors, paras_col=unit, sep="\n")
    same_text = rebuilt.groupBy(F.md5("text").alias("_h")).agg(
        F.count(F.lit(1)).alias("n_same_text")
    )
    return (
        rebuilt.join(same_text, F.md5("text") == F.col("_h")).drop("_h")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "text", "n_paras", "n_kept", "n_same_text",
        )
    )


SQL_WEB_DEDUP_PASS = """
WITH pages AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://WWW.EXAMPLE' || CAST(doc_id % 50 AS VARCHAR)
                       || '.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
                       || '/?utm_source=feed&b=2&a=1'
           WHEN 1 THEN 'http://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
           WHEN 2 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id % 50 AS VARCHAR)
                       || '/?b=2&a=1&fbclid=xyz'
           ELSE 'https://www.example' || CAST(doc_id % 50 AS VARCHAR)
                || '.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?b=2&a=1&gclid=q'
         END AS url,
         text || '. Standard legal boilerplate sentence appears everywhere. Unique tail '
              || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), norm AS (
  SELECT doc_id, text,
         -- port clause elided: fixture URLs are portless (normalize_url
         -- keeps non-default ports; :80/:443 strip)
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)),
                        '^www\\.', '')
         || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                           '/+$', '')
         || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
  FROM (
    SELECT doc_id, text, url,
           array_to_string(list_sort(list_filter(
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)')
           )), '&') AS qs
    FROM pages
  )
), url_survivors AS (
  SELECT n.doc_id, n.text
  FROM norm n
  JOIN (SELECT canon_url, min(doc_id) AS doc_id FROM norm GROUP BY canon_url) k
    ON n.doc_id = k.doc_id
), parts AS (
  SELECT doc_id, i - 1 AS pos, para
  FROM (
    SELECT doc_id,
           unnest(string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1))) AS para,
           generate_subscripts(string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1)), 1) AS i
    FROM url_survivors
  )
  WHERE para IS NOT NULL AND para <> ''
), flagged AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
  FROM parts
), rebuilt AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS text,
         count(*) AS n_paras,
         -- CAST: HUGEINT sum -> float64 in pandas breaks the exact hash
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM flagged GROUP BY doc_id
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.text, r.n_paras, r.n_kept,
       s.n_same_text
FROM rebuilt r
JOIN (SELECT md5(text) AS h, count(*) AS n_same_text FROM rebuilt GROUP BY md5(text)) s
  ON md5(r.text) = s.h
"""


# w=20 grams: slice t[i : i+19] is 20 tokens (DuckDB slices are
# end-inclusive); i ranges 1 .. len(t)-20+1, range() upper bound is
# exclusive → len(t)-18.
SQL_SUBSTRING_DUP_PAIRS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i : i + 19], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS i
        FROM d WHERE len(t) >= 20)
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
       count(*) AS n_shared_grams
FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): duplicated >= 20-token
    spans are EXCISED from every non-first occurrence and the docs
    rebuilt — the removal counterpart to substring_dup_pairs'
    detection, over the same corpus (whose duplicated 20-grams that
    query proves exist). Distributed shape: narrow window extraction,
    map-side-combinable min(struct) first-occurrence agg, one hash
    join back, in-row interval-merge rebuild — no windows over hot
    grams, no all-pairs (dedup.exact_substring_removal)."""
    from ontoemma_spark.operators.dedup import exact_substring_removal

    docs = _t(spark, sf_dir, "documents")
    return exact_substring_removal(docs, w=20).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text", "n_tokens", "n_removed",
    )


# DuckDB twin: row_number over each window hash marks non-first
# occurrences; a token is removed iff covered by a marked window
# (EXISTS range probe); docs rebuild via ordered string_agg. Slices
# are 1-based end-inclusive (t[i+1 : i+20] = 20 tokens from 0-based
# start i).
SQL_SUBSTRING_REMOVAL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
), wins AS (
  SELECT doc_id, i AS s, md5(array_to_string(t[i + 1 : i + 20], ' ')) AS h
  FROM (SELECT doc_id, t, unnest(range(len(t) - 19)) AS i
        FROM toks WHERE len(t) >= 20)
), flagged AS (
  SELECT doc_id, s,
         count(*)     OVER (PARTITION BY h) AS occ,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
  FROM wins
), marked AS (
  SELECT doc_id, s FROM flagged WHERE occ > 1 AND rn > 1
), toklist AS (
  SELECT doc_id, i AS p, t[i + 1] AS tok, len(t) AS n
  FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)
), kept AS (
  SELECT tk.doc_id, tk.p, tk.tok
  FROM toklist tk
  WHERE NOT EXISTS (
    SELECT 1 FROM marked m
    WHERE m.doc_id = tk.doc_id AND tk.p >= m.s AND tk.p < m.s + 20)
)
SELECT CAST(tl.doc_id AS BIGINT) AS doc_id,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text,
       CAST(max(tl.n) AS BIGINT) AS n_tokens,
       CAST(max(tl.n) - count(k.p) AS BIGINT) AS n_removed
FROM toklist tl
LEFT JOIN kept k ON tl.doc_id = k.doc_id AND tl.p = k.p
GROUP BY tl.doc_id
"""


# ---------------------------------------------------------------------------
# 20. ann_cosine — brute-force cosine vs a fixed query vector
# ---------------------------------------------------------------------------

def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: cosine(embedding, query) for every
    row, query = embedding of min(vec_id). Native zip_with/aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    return cosine_scores_vs_query(emb, qvec).select(
        F.col("vec_id").cast("bigint").alias("vec_id"), F.round("cos", 4).alias("cos")
    )


SQL_ANN_COSINE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(
         list_dot_product(embedding::DOUBLE[], (SELECT qe FROM q)) /
         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
          sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))), 4) AS cos
FROM embeddings
"""


# 20b. ann_lsh_bucket — the ANN SCALE path: hyperplane-LSH bucket + rescore
ANN_LSH_PLANES = 8
ANN_DIM = 64  # embeddings.parquet dimension at every SF


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-row ANN path, oracle-checked: rows sharing the query's
    random-hyperplane sign signature (deterministic planes) form the
    candidate bucket; exact cosine is computed only inside it. The SQL
    twin embeds the identical plane literals, so signature bits and
    cosines must match bit-for-bit."""
    from ontoemma_spark.operators.ann import lsh_bucket_candidates

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    return lsh_bucket_candidates(emb, qvec, num_planes=ANN_LSH_PLANES).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cos", 4).alias("cos"),
    )


def _sql_ann_lsh_bucket() -> str:
    from ontoemma_spark.operators.ann import _hyperplane

    planes = [_hyperplane(ANN_DIM, s) for s in range(ANN_LSH_PLANES)]
    lits = [
        "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]" for plane in planes
    ]
    sig = (
        lambda vec: " || ".join(
            f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0 THEN '1' ELSE '0' END)"
            for lit in lits
        )
    )
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
),
qsig AS (SELECT {sig("qe")} AS s FROM q),
sigs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {sig("embedding::DOUBLE[]")} AS s
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(
         list_dot_product(e, (SELECT qe FROM q)) /
         (sqrt(list_dot_product(e, e)) *
          sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))), 4) AS cos
FROM sigs WHERE s = (SELECT s FROM qsig)
"""


# 20c. event_window_counts — tumbling-window event-time aggregation
def q_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts and value totals per event type
    (streaming/events.py windowed_event_counts); this row pins them
    against SQL."""
    from ontoemma_spark.streaming.events import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 hour")
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_start_us"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
    )


SQL_EVENT_WINDOW_COUNTS = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 21-23. text analysis — lang id / quality / token counts
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word-ratio language ID (textstats.language_id)."""
    docs = _t(spark, sf_dir, "documents")
    out = T.language_id(docs)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      *[c for c in out.columns if c != "doc_id"])


def _lang_score_sql(lang: str) -> str:
    words = "[" + ",".join(f"'{w}'" for w in T.LANG_PROFILES[lang]) + "]"
    return (
        f"len(list_filter(string_split(text,' '), t -> list_contains({words}, t)))"
        f" / len(string_split(text,' ')) AS raw_{lang}"
    )


# argmax over RAW scores (strict >, earlier language wins ties) — must
# match the Spark fold in textstats.language_id exactly.
_langs = list(T.LANG_PROFILES)
_expr = f"'{_langs[0]}'"
_best = f"raw_{_langs[0]}"
for _lang in _langs[1:]:
    _expr = f"CASE WHEN raw_{_lang} > {_best} THEN '{_lang}' ELSE {_expr} END"
    _best = f"greatest({_best}, raw_{_lang})"

SQL_LANG_ID = f"""
WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {", ".join(_lang_score_sql(lang) for lang in T.LANG_PROFILES)}
  FROM documents
)
SELECT doc_id, {", ".join(f"round(raw_{lang}, 6) AS score_{lang}" for lang in T.LANG_PROFILES)},
       {_expr} AS pred_lang
FROM scored
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = T.quality_scores(docs)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      *[c for c in out.columns if c != "doc_id"])


SQL_QUALITY_SCORES = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
), feat AS (
  SELECT doc_id,
         CAST(n_toks AS BIGINT) AS n_tokens,
         list_sum([len(t) for t in toks]) / n_toks AS mean_len,
         len(list_filter(toks, t -> list_contains({_STOP_LIST_SQL}, t))) / n_toks AS stop_ratio,
         len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / len(text) AS alpha_ratio,
         len(list_distinct(toks)) / n_toks AS distinct_ratio
  FROM base
)
SELECT doc_id, n_tokens, round(mean_len, 6) AS mean_token_len,
       round(stop_ratio, 6) AS stopword_ratio, round(alpha_ratio, 6) AS alpha_ratio,
       round(distinct_ratio, 6) AS distinct_ratio,
       round((CASE WHEN n_tokens >= 20 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN stop_ratio <= 0.5 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN distinct_ratio >= 0.2 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
FROM feat
"""


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per doc, the fraction of 2-gram
    occurrences that belong to a within-doc duplicated gram and the
    share of the single most frequent gram. Chained doc-keyed
    aggregations — map-side combinable, skew-free."""
    docs = _t(spark, sf_dir, "documents")
    out = T.repetition_scores(docs, w=SHINGLE_W)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_grams"),
        F.round("dup_gram_frac", 6).alias("dup_gram_frac"),
        F.round("top_gram_frac", 6).alias("top_gram_frac"),
    )


# gram stream = the shared shingle CTE's sh0 BEFORE the DISTINCT (every
# occurrence counts for repetition, unlike the sketch consumers)
SQL_REPETITION_SCORES = _SHINGLE_CTE + """
, grams AS (SELECT doc_id, shingle AS gram FROM sh0 WHERE _last IS NOT NULL),
counts AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6) AS dup_gram_frac,
       round(max(c) / sum(c), 6) AS top_gram_frac
FROM counts GROUP BY doc_id
"""


def q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host/source-level rollup for domain filtering: per source, doc
    count, exact-dup rate (two-stage skew-safe distinct), mean quality
    and high-quality share."""
    docs = _t(spark, sf_dir, "documents")
    out = T.source_rollup(docs)
    return out.select(
        "source", "n_docs", "n_distinct",
        F.round("dup_rate", 6).alias("dup_rate"),
        F.round("avg_quality", 6).alias("avg_quality"),
        F.round("high_quality_share", 6).alias("high_quality_share"),
    )


# quality_score is a sum of exact quarters, so cross-engine avg is
# bit-identical; the rolled-up query composes the quality oracle as a
# nested CTE subquery.
SQL_SOURCE_ROLLUP = f"""
WITH q AS ({{quality}}),
d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
per_text AS (SELECT source, h, count(*) AS c FROM d GROUP BY source, h),
ts AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM per_text GROUP BY source
),
qs AS (
  SELECT d.source, avg(q.quality_score) AS aq,
         avg(CASE WHEN q.quality_score >= 0.5 THEN 1.0 ELSE 0.0 END) AS hq
  FROM d JOIN q ON d.doc_id = q.doc_id GROUP BY d.source
)
SELECT ts.source, ts.n_docs, ts.n_distinct,
       round(1 - ts.n_distinct / ts.n_docs, 6) AS dup_rate,
       round(qs.aq, 6) AS avg_quality, round(qs.hq, 6) AS high_quality_share
FROM ts JOIN qs ON ts.source = qs.source
"""
SQL_SOURCE_ROLLUP = SQL_SOURCE_ROLLUP.format(quality=SQL_QUALITY_SCORES)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 5-gram with the
    'benchmark' slice (every 50th doc, deterministic) are flagged.
    The benchmark gram set broadcasts; the corpus-side probe is a
    map-side semi-join + doc-keyed hit count."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return D.contamination_hits(docs, bench, w=5).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_hit_grams",
        "contaminated",
    )


SQL_DECONTAMINATE = _SHINGLE_CTE + """
, g5 AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
         lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tok, l1, l2, l3, l4) AS gram
  FROM g5 WHERE l4 IS NOT NULL
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS c FROM g JOIN bench USING (gram) GROUP BY g.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit_grams,
       coalesce(h.c, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# --- curation family: PII redaction / mixture sampling / packing -----------

def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/phones/IPv4 → typed placeholders) with
    per-class hit counts; narrow regexp column math, zero shuffle."""
    from ontoemma_spark.operators.curation import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555-000-1234 at 192.168.1.99"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = redact_pii(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_email", "n_phone", "n_ip", "text",
    )


# the redaction stages in order (email → phone → ip), each count taken
# on the text as it stood BEFORE that class's replacement — mirroring
# the operator's sequential fold.
SQL_REDACT_PII = r"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1 555-000-1234 at 192.168.1.99'
              ELSE text END AS t0
  FROM documents
), s1 AS (
  SELECT doc_id, t0,
         len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM injected
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}')) AS n_phone,
         regexp_replace(t1, '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS t2
  FROM s1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_email AS BIGINT) AS n_email,
       CAST(n_phone AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
       regexp_replace(t2, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS text
FROM s2
"""


# source weights for the mixture-sampling demo: even-numbered sources
# kept at 25%, odd at 90% — enough spread to prove the draw works.
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-weighted sampling: salted-md5 hex draw vs
    the source weight's hex threshold; broadcast weights, narrow draw,
    stable under any partitioning / resume."""
    from ontoemma_spark.operators.curation import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    srcs = docs.select("source").distinct()
    weights = srcs.select(
        "source",
        F.when(
            F.regexp_extract("source", r"(\d+)", 1).cast("int") % 2 == 0, 0.25
        ).otherwise(0.9).alias("weight"),
    )
    kept = mixture_sample(docs, weights)
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )


SQL_MIXTURE_SAMPLE = """
WITH weights AS (
  SELECT source,
         CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 = 0
              THEN 0.25 ELSE 0.9 END AS weight
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source
FROM documents d JOIN weights w ON d.source = w.source
WHERE substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
      < CASE WHEN w.weight >= 1.0 THEN 'zzzzzzzz'
             ELSE printf('%08x', CAST(floor(w.weight * 4294967296) AS BIGINT)) END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token contexts, 8 explicit
    doc_id%8 groups (explicit so the DuckDB twin can replicate the
    grouping; production uses the xxhash64 default)."""
    from ontoemma_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "grp_in", F.col("doc_id") % 8
    )
    return pack_sequences(docs, max_tokens=256, group_col="grp_in").select(
        F.col("grp").cast("bigint").alias("grp"),
        F.col("bin_idx"), F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens"), F.col("bin_fill"),
    )


# greedy fill-with-reset is a per-group linear recurrence → recursive
# CTE stepping one row (per group) per iteration; groups advance in
# parallel, so rounds = max group size.
SQL_PACK_SEQUENCES = """
WITH RECURSIVE d AS MATERIALIZED (
  -- n > 0 mirrors the operator's nothing-to-pack filter (null/empty
  -- text); MATERIALIZED so the recursive walk doesn't re-inline this
  SELECT doc_id % 8 AS grp, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
),
walk AS (
  SELECT grp, rn, doc_id, n, CAST(0 AS BIGINT) AS bin_idx, n AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.grp, d.rn, d.doc_id, d.n,
         CASE WHEN w.fill + d.n > 256 THEN w.bin_idx + 1 ELSE w.bin_idx END,
         CASE WHEN w.fill + d.n > 256 THEN d.n ELSE w.fill + d.n END
  FROM walk w JOIN d ON d.grp = w.grp AND d.rn = w.rn + 1
)
SELECT CAST(grp AS BIGINT) AS grp, bin_idx,
       CAST(doc_id AS BIGINT) AS doc_id, n AS n_tokens, fill AS bin_fill
FROM walk
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): windowed-min
    k-gram hash selection with rightmost tie-break, the MOSS
    fingerprint whose guarantee min-k sketches lack (any >= w+k-1
    token overlap shares a selection). Zero-shuffle in-row
    (textstats.winnowing_fingerprints, k=3 grams, w=4 windows)."""
    from ontoemma_spark.operators.textstats import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, k=3, w=4).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "pos", "fp",
    )


SQL_WINNOWING = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
), hs AS (
  SELECT doc_id, i, md5(array_to_string(t[i + 1 : i + 3], ' ')) AS h
  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3)
), harr AS (
  SELECT doc_id, list(h ORDER BY i) AS hl FROM hs GROUP BY doc_id
), wins AS (
  SELECT doc_id, hl, j
  FROM (SELECT doc_id, hl, unnest(range(len(hl) - 3)) AS j
        FROM harr WHERE len(hl) >= 4)
)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(j + 4 - list_position(list_reverse(hl[j + 1 : j + 4]),
                                  list_min(hl[j + 1 : j + 4])) AS INT) AS pos,
       list_min(hl[j + 1 : j + 4]) AS fp
FROM wins
"""


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist pass: hosts h<g>.site<g%7>.org; the list blocks
    the whole site3.org parent plus one exact host — suffix semantics
    via in-row suffix expansion + ONE anti equi join
    (textstats.url_blocklist_filter; the oracle twin uses the
    equivalent exact-OR-parent predicate)."""
    from ontoemma_spark.operators.textstats import url_blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    g = F.col("doc_id") % 100
    pages = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.concat(
            F.lit("https://h"), g.cast("string"),
            F.lit(".site"), (g % 7).cast("string"), F.lit(".org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("site3.org",), ("h4.site4.org",)], "domain string"
    )
    return url_blocklist_filter(pages, bl)


SQL_URL_BLOCKLIST = """
WITH pages AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'https://h' || CAST(doc_id % 100 AS VARCHAR)
         || '.site' || CAST(doc_id % 100 % 7 AS VARCHAR) || '.org/p/'
         || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), hosted AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]+)', 1)) AS host
  FROM pages
), bl AS (SELECT unnest(['site3.org', 'h4.site4.org']) AS domain)
SELECT doc_id, url FROM hosted h
WHERE NOT EXISTS (
  SELECT 1 FROM bl
  WHERE h.host = bl.domain OR h.host LIKE '%.' || bl.domain
)
"""


def q_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-Net LM-filter proxy: every doc scored against the corpus'
    own unigram model (mean token log-probability + OOV count —
    textstats.unigram_logprob_scores; the KenLM table is the
    documented drop-in seam)."""
    from ontoemma_spark.operators.textstats import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    out = unigram_logprob_scores(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens", "n_oov",
        F.round("mean_logprob", 6).alias("mean_logprob"),
    )


SQL_LM_FILTER = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY token
), totals AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
  FROM vocab
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       count(*) AS n_tokens,
       CAST(0 AS BIGINT) AS n_oov,
       round(avg(ln(vc.cnt / (SELECT total FROM totals))), 6) AS mean_logprob
FROM toks t JOIN vocab vc USING (token)
GROUP BY t.doc_id
"""


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-Net normalization-then-exact-dedup: three raw variants per
    group (case, accents, digit runs, punctuation, whitespace all
    differ) MUST collapse to one normalized hash
    (textstats.dedup_normalize_col + exact_duplicates — narrow
    normalization, one hash-groupBy)."""
    from ontoemma_spark.operators.dedup import exact_duplicates
    from ontoemma_spark.operators.textstats import dedup_normalize_col

    docs = _t(spark, sf_dir, "documents")
    g = F.repeat(F.lit("x"), (F.col("doc_id") % 20 + 1).cast("int"))
    v = F.col("doc_id") % 3
    raw = (
        F.when(v == 0, F.concat(F.lit("Boiler PLATE café "), g, F.lit(" page 123!")))
        .when(v == 1, F.concat(F.lit("boiler plate cafe "), g, F.lit(" Page 9")))
        .otherwise(F.concat(F.lit("boiler  plate   CAFÉ "), g, F.lit(" page, 7.")))
    )
    pages = docs.select("doc_id", dedup_normalize_col(raw).alias("text"))
    return exact_duplicates(pages).select(
        "content_hash",
        F.col("rep_doc_id").cast("bigint").alias("rep_doc_id"),
        "dup_count",
    )


# translate map literal mirrors textstats._ACCENTS/_ACCENT_FOLDS
SQL_NORMALIZED_DEDUP = """
WITH pages AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN 'Boiler PLATE café ' || repeat('x', CAST(doc_id % 20 + 1 AS INT)) || ' page 123!'
           WHEN 1 THEN 'boiler plate cafe ' || repeat('x', CAST(doc_id % 20 + 1 AS INT)) || ' Page 9'
           ELSE 'boiler  plate   CAFÉ ' || repeat('x', CAST(doc_id % 20 + 1 AS INT)) || ' page, 7.'
         END AS raw
  FROM documents
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
           lower(translate(raw,
             'àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ',
             'aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY')),
           '[0-9]+', '0', 'g'), '[^a-z0 ]+', ' ', 'g'), ' +', ' ', 'g')) AS text
  FROM pages
)
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
       count(*) AS dup_count
FROM norm GROUP BY md5(text)
"""


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the newest crawl snapshot per URL: 50 synthetic URLs, each
    fetched ~10 times with a non-monotone fetch clock (doc_id*37 mod
    101 seconds), ts ties broken by the struct's remaining columns —
    one map-side-combinable max(struct) per key, never a window
    (textstats.latest_snapshot)."""
    from ontoemma_spark.operators.textstats import latest_snapshot

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 50).cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1767225600) + (F.col("doc_id") * 37 % 101)
        ).alias("warc_ts"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )
    out = latest_snapshot(pages)
    return out.select(
        "url",
        F.unix_timestamp("warc_ts").cast("bigint").alias("fetch_epoch"),
        "doc_id",
    )


SQL_LATEST_SNAPSHOT = """
WITH pages AS (
  SELECT 'u' || CAST(doc_id % 50 AS VARCHAR) AS url,
         1767225600 + (doc_id * 37 % 101) AS fetch_epoch,
         CAST(doc_id AS BIGINT) AS doc_id
  FROM documents
)
SELECT url, CAST(fetch_epoch AS BIGINT) AS fetch_epoch, doc_id
FROM (
  SELECT url, fetch_epoch, doc_id,
         row_number() OVER (PARTITION BY url
                            ORDER BY fetch_epoch DESC, doc_id DESC) AS rn
  FROM pages
) WHERE rn = 1
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: sources numbered %3==0 get a
    600-token budget (kept in salted-hash order until the running
    total crosses it), %3==1 get budget 0 (dropped), %3==2 have NO
    budget row (kept whole — the partial-table semantics). One window
    sum per source (curation.token_budget_sample)."""
    from ontoemma_spark.operators.curation import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    budgets = docs.select("source").distinct().select(
        "source",
        F.when(
            F.regexp_extract("source", r"(\d+)", 1).cast("int") % 3 == 0, 600
        )
        .when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 3 == 1, 0)
        .alias("token_budget"),
    )
    out = token_budget_sample(docs, budgets)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source", "n_tokens", "tokens_before",
    )


SQL_TOKEN_BUDGET = """
WITH budgets AS (
  SELECT source,
         CASE CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3
              WHEN 0 THEN 600 WHEN 1 THEN 0 END AS token_budget
  FROM (SELECT DISTINCT source FROM documents)
), t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 16) AS d
  FROM documents
), runsum AS (
  SELECT doc_id, source, n_tokens,
         -- CAST: window sum() is HUGEINT in DuckDB -> float64 in pandas
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS tokens_before
  FROM t
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.source, r.n_tokens, r.tokens_before
FROM runsum r JOIN budgets b USING (source)
WHERE b.token_budget IS NULL OR r.tokens_before < b.token_budget
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew diagnostic: half the table synthesized into 3
    hot keys, the rest singleton tails — the top-5 report must surface
    the hot keys with exact shares and a deterministic count-then-key
    tiebreak (textstats.key_skew_stats: count agg + broadcast total +
    TakeOrderedAndProject, no global sort)."""
    from ontoemma_spark.operators.textstats import key_skew_stats

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("h"), (F.col("doc_id") % 3).cast("string")),
        )
        .otherwise(F.concat(F.lit("tail"), F.col("doc_id").cast("string")))
        .alias("k")
    )
    out = key_skew_stats(keyed, "k", top_n=5)
    return out.select("key", "cnt", F.round("share", 6).alias("share"))


SQL_KEY_SKEW = """
WITH keyed AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'h' || CAST(doc_id % 3 AS VARCHAR)
              ELSE 'tail' || CAST(doc_id AS VARCHAR) END AS key
  FROM documents
), counts AS (
  SELECT key, count(*) AS cnt FROM keyed GROUP BY key
)
SELECT key, cnt,
       round(cnt * 1.0 / (SELECT count(*) FROM keyed), 6) AS share
FROM counts
ORDER BY cnt DESC, key ASC NULLS LAST
LIMIT 5
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, d=0.85) over the symmetrized
    customer↔supplier graph derived from orders ⋈ lineitem — the
    head-entity ranking pass over a materialized KG. Symmetrization
    removes dangling nodes, so no mass leaks and the fixed-iteration
    SQL twin is exact (graph.pagerank; per-iteration localCheckpoint =
    the CC lineage discipline)."""
    from ontoemma_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    # derived-predicate pushdown (r6): on the equi-join key the orders
    # filter implies l_orderkey % 3 = 0 — applying it to lineitem drops
    # 2/3 of the big side BEFORE its shuffle (guide §2.3); Spark does
    # not infer modular predicates across joins. Identical join output.
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    base = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # edges is distinct by construction (base is distinct; the 'c'/'s'
    # prefixes make the two directions disjoint) — skip the re-dedup
    out = pagerank(edges, iterations=5, damping=0.85, dedupe=False)
    return out.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_sql() -> str:
    """Unrolled power-iteration twin; float literals injected via repr
    and cast to DOUBLE so both engines run the identical binary
    arithmetic (round-6 absorbs sum-order reassociation)."""
    iterations, damping = 5, 0.85
    d = repr(damping)
    base = repr(1.0 - damping)
    head = """
WITH base_edges AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey % 3 = 0
), edges AS (
  SELECT src, dst FROM base_edges UNION SELECT dst, src FROM base_edges
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    its = "".join(
        f""",
r{k + 1} AS (
  SELECT nodes.node,
         CAST({base} AS DOUBLE) / (SELECT n FROM nn)
         + CAST({d} AS DOUBLE) * coalesce(c.m, 0.0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / o.deg) AS m
    FROM edges e JOIN r{k} r ON r.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) c USING (node)
)"""
        for k in range(iterations)
    )
    return head + its + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"


SQL_PAGERANK = _pagerank_sql()


def q_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-level filters: boilerplate lines (2x 'Home'), a
    bullet, and an ellipsis teaser appended to every doc so every
    signal provably fires; fractions computed in-row over non-empty
    newline lines (textstats.line_stats — zero shuffle)."""
    from ontoemma_spark.operators.textstats import line_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nHome\nHome\n- item\nMore soon...")
        ).alias("text"),
    )
    out = line_stats(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
    )


SQL_LINE_STATS = """
WITH pages AS (
  SELECT doc_id,
         text || chr(10) || 'Home' || chr(10) || 'Home' || chr(10)
              || '- item' || chr(10) || 'More soon...' AS text
  FROM documents
), l AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
  FROM pages
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       round((len(lines) - len(list_distinct(lines))) * 1.0
             / greatest(len(lines), 1), 6) AS dup_line_frac,
       round(len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…')))
             * 1.0 / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
       round(len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*')
                                          OR starts_with(x, '•')))
             * 1.0 / greatest(len(lines), 1), 6) AS bullet_line_frac
FROM l
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length token chunking (max 32, overlap 8): long docs split
    into stride-24 windows, last chunk keeps the remainder, pure-suffix
    trailing chunks suppressed. ZERO-shuffle in-row fan-out
    (curation.chunk_documents)."""
    from ontoemma_spark.operators.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=32, overlap=8).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "chunk_idx", "text", "n_tokens",
    )


# stride = 32 - 8 = 24; chunks = max(1, ceil((n - 8) / 24)); DuckDB
# slices are 1-based end-inclusive and clamp at the list end.
SQL_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         t[i * 24 + 1 : i * 24 + 32] AS chunk
  FROM (
    SELECT doc_id, t,
           unnest(range(greatest(1, CAST(ceil((len(t) - 8) / 24.0) AS BIGINT)))) AS i
    FROM toks
  )
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, chunk_idx,
       array_to_string(chunk, ' ') AS text,
       CAST(len(chunk) AS BIGINT) AS n_tokens
FROM c
"""


def q_curate_stage0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curate_corpus's opt-in stage 0 + stage 1, via the SAME shared
    helpers the composed pass calls (pre_dedup_paragraph_stage,
    gate_quality_repetition — no drift possible): a boilerplate
    paragraph appended to every doc is deduped corpus-wide (one keeper),
    empty rebuilds drop explicitly, and the quality/repetition gate
    runs over the REBUILT text. Returns the gated survivors with their
    rewritten text — the doc set the rest of the curation chain would
    see with pre_dedup_paragraphs=True."""
    from ontoemma_spark.operators.curation import (
        gate_quality_repetition,
        pre_dedup_paragraph_stage,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit("\nStandard legal boilerplate paragraph appears on every page."),
        ).alias("text"),
    )
    staged = pre_dedup_paragraph_stage(docs)
    gated = gate_quality_repetition(staged, w=SHINGLE_W)
    return gated.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )


SQL_CURATE_STAGE0 = f"""
WITH pages AS (
  SELECT doc_id,
         text || chr(10) || 'Standard legal boilerplate paragraph appears on every page.' AS text
  FROM documents
), parts AS (
  -- original-array positions with empties filtered AFTER: relative
  -- order matches the operator's pre-filtered positions, which is all
  -- the first-occurrence ordering and the rebuild need
  SELECT doc_id, i - 1 AS pos, para
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\n+')) AS para,
           generate_subscripts(string_split_regex(text, '\\n+'), 1) AS i
    FROM pages
  )
  WHERE para IS NOT NULL AND para <> ''
), flagged AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
  FROM parts
), docs2 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS text
    FROM flagged GROUP BY doc_id
  ) WHERE text <> ''
), toks2 AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_toks
  FROM docs2
), q AS (
  SELECT doc_id,
         (CASE WHEN n_toks >= 20 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN list_sum([len(t) for t in toks]) / n_toks >= 3
               AND list_sum([len(t) for t in toks]) / n_toks <= 10 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN len(list_filter(toks, t -> list_contains({_STOP_LIST_SQL}, t))) / n_toks <= 0.5
               THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN len(list_distinct(toks)) / n_toks >= 0.2 THEN 0.25 ELSE 0.0 END) AS qs
  FROM toks2
), g2 AS (
  SELECT doc_id, shingle, count(*) AS c FROM (
    SELECT doc_id,
           concat_ws(' ', tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)) AS shingle,
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS _last
    FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM toks2)
  ) WHERE _last IS NOT NULL GROUP BY doc_id, shingle
), rep AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dupf
  FROM g2 GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.text
FROM docs2 d
JOIN q ON q.doc_id = d.doc_id
LEFT JOIN rep ON rep.doc_id = d.doc_id
WHERE q.qs >= 0.5 AND (rep.dupf IS NULL OR rep.dupf < 0.3)
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pass composed end-to-end (the data-pipeline
    analog of kg_pipeline's composed oracle): quality+repetition gate →
    benchmark decontamination → LSH near-dup resolution → mixture
    sampling → PII redaction → sequence packing. Every stage is the
    already-oracled operator; this row proves the composition."""
    from ontoemma_spark.operators.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    weights = docs.select("source").distinct().select(
        "source",
        F.when(
            F.regexp_extract("source", r"(\d+)", 1).cast("int") % 2 == 0, 0.25
        ).otherwise(0.9).alias("weight"),
    )
    out = curate_corpus(
        docs, bench, weights,
        max_tokens=256, shingle_w=SHINGLE_W, num_hashes=NUM_MINHASHES,
        bands=LSH_BANDS, min_jaccard=JACCARD_MIN,
        n_pack_groups=8, pack_groups_by_mod=True,
    )
    return out.select(
        F.col("grp").cast("bigint").alias("grp"),
        "bin_idx",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens", "bin_fill",
    )


_CURATE_SIG = ", ".join(
    f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(NUM_MINHASHES)
)
_PII_CHAIN_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),"
    " '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g')"
)

SQL_CURATE_CORPUS = (
    _SHINGLE_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + f"""
, rep AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS dupf
  FROM (
    SELECT doc_id, shingle, count(*) AS c
    FROM sh0 WHERE _last IS NOT NULL GROUP BY doc_id, shingle
  ) GROUP BY doc_id
),
q AS ({SQL_QUALITY_SCORES}),
gated AS (
  SELECT d.doc_id FROM documents d
  JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN rep ON rep.doc_id = d.doc_id
  WHERE q.quality_score >= 0.5 AND (rep.dupf IS NULL OR rep.dupf < 0.3)
),
g5 AS (
  SELECT doc_id, tok,
         lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
         lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tok, l1, l2, l3, l4) AS gram
  FROM g5 WHERE l4 IS NOT NULL
),
bgrams AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
cont AS (
  SELECT DISTINCT g.doc_id FROM g
  JOIN gated USING (doc_id) JOIN bgrams USING (gram)
),
clean AS (
  -- anti-join, not EXCEPT: DuckDB disallows EXCEPT-shaped CTEs inside
  -- a WITH RECURSIVE block
  SELECT ga.doc_id FROM gated ga
  LEFT JOIN cont ON cont.doc_id = ga.doc_id
  WHERE cont.doc_id IS NULL
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN clean USING (doc_id)),
sig AS (SELECT doc_id, {_CURATE_SIG} FROM shc GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE i / (sa.n + sb.n - i) >= {JACCARD_MIN!r}
),
dup AS (SELECT c.doc_a, c.doc_b FROM cand c JOIN jac j USING (doc_a, doc_b)),
edges AS MATERIALIZED (
  -- MATERIALIZED: the recursive walk re-inlines referenced CTEs per
  -- iteration; without it the whole LSH chain re-executes every round
  SELECT doc_a AS src, doc_b AS dst FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
walk AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT e.dst, w.reach FROM walk w JOIN edges e ON w.node = e.src
),
cc AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
survivors AS (
  SELECT c.doc_id FROM clean c LEFT JOIN cc ON cc.node = c.doc_id
  WHERE cc.component IS NULL OR cc.component = c.doc_id
),
wts AS (
  SELECT source,
         CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 = 0
              THEN 0.25 ELSE 0.9 END AS weight
  FROM (SELECT DISTINCT source FROM documents)
),
sampled AS (
  SELECT s.doc_id, {_PII_CHAIN_SQL} AS text
  FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
  JOIN wts w ON d.source = w.source
  WHERE substr(md5('mix:' || CAST(s.doc_id AS VARCHAR)), 1, 8)
        < CASE WHEN w.weight >= 1.0 THEN 'zzzzzzzz'
               ELSE printf('%08x', CAST(floor(w.weight * 4294967296) AS BIGINT)) END
),
pk AS MATERIALIZED (
  -- MATERIALIZED: pwalk steps once per row rank; inlining would
  -- re-run the entire curation chain per step
  SELECT doc_id % 8 AS pgrp, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM sampled WHERE len(string_split(text, ' ')) > 0
),
pwalk AS (
  SELECT pgrp, rn, doc_id, n, CAST(0 AS BIGINT) AS bin_idx, n AS fill
  FROM pk WHERE rn = 1
  UNION ALL
  SELECT pk.pgrp, pk.rn, pk.doc_id, pk.n,
         CASE WHEN w.fill + pk.n > 256 THEN w.bin_idx + 1 ELSE w.bin_idx END,
         CASE WHEN w.fill + pk.n > 256 THEN pk.n ELSE w.fill + pk.n END
  FROM pwalk w JOIN pk ON pk.pgrp = w.pgrp AND pk.rn = w.rn + 1
)
SELECT CAST(pgrp AS BIGINT) AS grp, bin_idx,
       CAST(doc_id AS BIGINT) AS doc_id, n AS n_tokens, fill AS bin_fill
FROM pwalk
"""
)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.token_counts(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "ws_tokens", "re_tokens", "n_chars"
    )


SQL_TOKEN_COUNTS = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens,
       CAST(len(text) AS BIGINT) AS n_chars
FROM documents
"""


# 24. fingerprints — winnowing-lite document fingerprint
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.document_fingerprints_narrow(docs, w=SHINGLE_W, k=3).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "fingerprint"
    )


SQL_FINGERPRINTS = _SHINGLE_CTE + """
, hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
  FROM sh
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(h, '|' ORDER BY h) AS fingerprint
FROM hashed WHERE rn <= 3 GROUP BY doc_id
"""


# 25. media_meta — multimodal binary column metadata (native)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: byte length + content hash of the
    utf-8-encoded document payloads."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


SQL_MEDIA_META = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling with REAL decoding: synthetic_videos builds
    concatenated-P6 streams whose shape is formula-derived (video i:
    3+i%4 frames of (4+i%3)x(5+i%2) px; every 5th an MP4-magic
    fallback blob), sample_frames stride-2 samples and DECODES each
    frame — so the relational output (frame counts, dims, fallback
    flags) only matches the oracle's arithmetic twin if the binary
    container round-trips correctly. Features stay pytest-pinned
    (binary decode is not SQL-expressible)."""
    from ontoemma_spark.operators.multimodal import sample_frames, synthetic_videos

    return sample_frames(synthetic_videos(spark, n=40), every_k=2).select(
        "media_id", "frame_idx", "n_frames", "decoded", "width", "height",
    )


# Arithmetic twin of synthetic_videos' generative formula — no decoding,
# just the shape the decode must reproduce.
SQL_FRAME_SAMPLE = """
WITH v AS (SELECT CAST(i AS INT) AS i FROM range(40) t(i))
SELECT 'v' || lpad(CAST(i AS VARCHAR), 4, '0') AS media_id,
       0 AS frame_idx, 0 AS n_frames, FALSE AS decoded,
       0 AS width, 0 AS height
FROM v WHERE i % 5 = 4
UNION ALL
SELECT 'v' || lpad(CAST(i AS VARCHAR), 4, '0') AS media_id,
       CAST(f AS INT) AS frame_idx,
       CAST(3 + i % 4 AS INT) AS n_frames, TRUE AS decoded,
       CAST(5 + i % 2 AS INT) AS width, CAST(4 + i % 3 AS INT) AS height
FROM (SELECT i, unnest(range(0, 3 + i % 4, 2)) AS f FROM v WHERE i % 5 <> 4)
"""


# 26. triple_extract — the extract stage's pattern extractor (SQL twin)
def q_triple_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract-stage demo: synthesize 'X is a Y.' sentences from document
    tokens (deterministic), run the real pattern extractor (F16/F17
    analog, extract/triples.py)."""
    from ontoemma_spark.extract.triples import extract_triples

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(
            F.element_at(toks, 1), F.lit(" is a "), F.element_at(toks, 2),
            F.lit(". "), F.element_at(toks, 3), F.lit(" is part of "),
            F.element_at(toks, 4), F.lit("."),
        ).alias("text"),
    )
    return extract_triples(pages).select(
        F.col("url"), F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj", "pred", "obj",
    )


SQL_TRIPLE_EXTRACT = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, string_split(text, ' ') AS t FROM documents
)
SELECT url, CAST(0 AS BIGINT) AS sent_idx, t[1] AS subj, 'is_a' AS pred, t[2] AS obj FROM toks
UNION ALL
SELECT url, CAST(1 AS BIGINT) AS sent_idx, t[3] AS subj, 'part_of' AS pred, t[4] AS obj FROM toks
"""


# ---------------------------------------------------------------------------
# 27. eval_at_k — A5 (candidate-selection precision/recall @ k)
# ---------------------------------------------------------------------------

EVAL_KS = [1, 5, 10]


def q_eval_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: P@k/R@k of the blocking candidates vs the (e, e+1) diagonal
    gold (CandidateSelection.eval, :151-196)."""
    from ontoemma_spark.operators.evaluate import candidates_eval_at_k

    cands = _blocking_candidates_df(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    gold = part.filter(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("s_id"), (F.col("p_partkey") + 1).alias("t_id")
    )
    out = candidates_eval_at_k(cands, gold, top_ks=EVAL_KS)
    return out.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("cand_count").cast("bigint").alias("cand_count"),
        F.col("pos_count").cast("bigint").alias("pos_count"),
        F.round("precision_at_k", 6).alias("precision_at_k"),
        F.round("recall_at_k", 6).alias("recall_at_k"),
    )


SQL_EVAL_AT_K = _BLOCK_SQL_CTES + f"""
, kept AS (SELECT * FROM ranked WHERE rank <= {BLOCK_TOP_K}),
gold AS (
  SELECT p_partkey AS s_id, p_partkey + 1 AS t_id FROM part WHERE p_partkey % 2 = 0
), flagged AS (
  SELECT k.s_id, k.t_id, k.rank,
         CASE WHEN g.s_id IS NOT NULL THEN 1 ELSE 0 END AS is_gold
  FROM kept k LEFT JOIN gold g ON k.s_id = g.s_id AND k.t_id = g.t_id
  WHERE k.s_id IN (SELECT s_id FROM gold)
), ks AS (SELECT unnest([{", ".join(str(k) for k in EVAL_KS)}]) AS k),
agg AS (
  SELECT ks.k, count(*) AS cand_count, sum(f.is_gold) AS pos_count
  FROM flagged f JOIN ks ON f.rank <= ks.k GROUP BY ks.k
)
SELECT CAST(k AS BIGINT) AS k, CAST(cand_count AS BIGINT) AS cand_count,
       CAST(pos_count AS BIGINT) AS pos_count,
       round(pos_count / cand_count, 6) AS precision_at_k,
       round(pos_count / (SELECT count(*) FROM gold), 6) AS recall_at_k
FROM agg
"""


# ---------------------------------------------------------------------------
# 28. train_split — M5 (stratified deterministic 60/20/20)
# ---------------------------------------------------------------------------

def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: stratified deterministic split of labeled pairs; output split
    sizes per label (split_training_data, deterministic variant)."""
    from ontoemma_spark.operators.training import train_dev_test_split

    cust = _t(spark, sf_dir, "customer")
    pairs = cust.select(
        F.col("c_custkey").cast("string").alias("s_id"),
        F.concat(F.lit("t"), F.col("c_custkey").cast("string")).alias("t_id"),
        (F.col("c_custkey") % 4 == 0).cast("double").alias("label"),
    )
    return (
        train_dev_test_split(pairs)
        .groupBy("label", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


SQL_TRAIN_SPLIT = """
WITH pairs AS (
  SELECT CAST(c_custkey AS VARCHAR) AS s_id,
         't' || CAST(c_custkey AS VARCHAR) AS t_id,
         CAST(c_custkey % 4 = 0 AS DOUBLE) AS label
  FROM customer
), ranked AS (
  SELECT label,
         row_number() OVER (PARTITION BY label ORDER BY md5(s_id || '|' || t_id)) AS rn,
         count(*) OVER (PARTITION BY label) AS cnt
  FROM pairs
), assigned AS (
  SELECT label,
         CASE WHEN (rn - 0.5) / cnt <= 0.6 THEN 'train'
              WHEN (rn - 0.5) / cnt <= 0.8 THEN 'dev'
              ELSE 'test' END AS split
  FROM ranked
)
SELECT label, split, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY label, split
"""


# ---------------------------------------------------------------------------
# 29. tfidf_cosine — F13 (definition tf-idf cosine over pairs)
# ---------------------------------------------------------------------------

def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: tf-idf cosine between paired documents (doc d vs d+1) —
    sparse-vector cosine as pure relational algebra (training.py)."""
    from ontoemma_spark.operators.training import definition_tfidf_cosine

    docs = _t(spark, sf_dir, "documents")
    to_ent = lambda side, flt: docs.filter(flt).select(  # noqa: E731
        F.col("doc_id").cast("string").alias("research_entity_id"),
        F.col("text").alias("definition"),
    )
    s = to_ent("s", F.col("doc_id") % 2 == 0)
    t = to_ent("t", F.col("doc_id") % 2 == 1)
    pairs = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 200)).select(
        F.col("doc_id").cast("string").alias("s_id"),
        (F.col("doc_id") + 1).cast("string").alias("t_id"),
    )
    out = definition_tfidf_cosine(s, t, pairs)
    return out.select(
        F.col("s_id").cast("bigint").alias("s_id"),
        F.col("t_id").cast("bigint").alias("t_id"),
        F.round("def_tfidf_cosine", 6).alias("def_tfidf_cosine"),
    )


SQL_TFIDF_COSINE = f"""
WITH s_tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS s_id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
               t -> NOT list_contains({_STOP_LIST_SQL}, t))) AS tok
        FROM documents WHERE doc_id % 2 = 0)
  GROUP BY 1, 2
), t_tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS t_id, tok AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
               t -> NOT list_contains({_STOP_LIST_SQL}, t))) AS tok
        FROM documents WHERE doc_id % 2 = 1)
  GROUP BY 1, 2
), n AS (SELECT count(*) AS n FROM documents),
df AS (
  SELECT token, count(DISTINCT eid) AS df FROM (
    SELECT s_id AS eid, token FROM s_tok UNION ALL SELECT t_id AS eid, token FROM t_tok
  ) GROUP BY token
), idf AS (SELECT token, ln((SELECT n FROM n) / df + 1) AS idf FROM df),
s_w AS (SELECT s_id, s_tok.token, tf * idf AS w FROM s_tok JOIN idf ON s_tok.token = idf.token),
t_w AS (SELECT t_id, t_tok.token, tf * idf AS w FROM t_tok JOIN idf ON t_tok.token = idf.token),
s_norm AS (SELECT s_id, sqrt(sum(w * w)) AS nrm FROM s_w GROUP BY s_id),
t_norm AS (SELECT t_id, sqrt(sum(w * w)) AS nrm FROM t_w GROUP BY t_id),
pairs AS (
  SELECT CAST(doc_id AS VARCHAR) AS s_id, CAST(doc_id + 1 AS VARCHAR) AS t_id
  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 200
), dots AS (
  SELECT p.s_id, p.t_id, sum(s_w.w * t_w.w) AS dot
  FROM pairs p JOIN s_w ON p.s_id = s_w.s_id JOIN t_w ON p.t_id = t_w.t_id AND s_w.token = t_w.token
  GROUP BY p.s_id, p.t_id
)
SELECT CAST(p.s_id AS BIGINT) AS s_id, CAST(p.t_id AS BIGINT) AS t_id,
       round(CASE WHEN d.dot IS NOT NULL AND sn.nrm > 0 AND tn.nrm > 0
                  THEN d.dot / (sn.nrm * tn.nrm) ELSE 0.0 END, 6) AS def_tfidf_cosine
FROM pairs p
LEFT JOIN dots d ON p.s_id = d.s_id AND p.t_id = d.t_id
LEFT JOIN s_norm sn ON p.s_id = sn.s_id
LEFT JOIN t_norm tn ON p.t_id = tn.t_id
"""


# ---------------------------------------------------------------------------
# 30. kg_pipeline — the full 4-stage pipeline (extract → link →
# canonicalize → materialize), WITH a full DuckDB oracle: the linking
# math (NUL-padded 5-grams, IDF floor, top-K candidates, equiv
# restricted to candidates, BEST strategy) is plain SQL, and the CC
# fixpoint is a WITH RECURSIVE reachability closure (component =
# min reachable node — generic, not a closed form for this input).
# ---------------------------------------------------------------------------

def q_kg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule flagship: pages synthesized from documents, KB from
    their vocabulary, full extract→link→canonicalize→materialize run
    (in-memory variant of pipeline.run_pipeline, no checkpoint dir).
    Returns the canonical KG edge table."""
    from ontoemma_spark.align import align
    from ontoemma_spark.extract.triples import extract_triples
    from ontoemma_spark.operators.components import connected_components

    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(
            F.element_at(toks, 1), F.lit(" is a "), F.element_at(toks, 2),
            F.lit(". "), F.element_at(toks, 3), F.lit(" is part of "),
            F.element_at(toks, 4), F.lit("."),
        ).alias("text"),
    )
    # triples feed the mention table, both final KG joins, and (through
    # align) many candidate/feature scans — persist the (3-rows-per-doc)
    # extract output so the regex extraction runs once, the same role
    # the extract checkpoint plays in the real pipeline.
    triples = extract_triples(pages).persist(StorageLevel.MEMORY_AND_DISK)

    # KB: the document vocabulary as entities
    kb = (
        docs.select(F.explode(F.slice(toks, 1, 4)).alias("word"))
        .distinct()
        .select(
            F.concat(F.lit("KB:"), F.col("word")).alias("research_entity_id"),
            F.col("word").alias("canonical_name"),
            F.array(F.col("word")).alias("aliases"),
            F.lit("").alias("definition"),
            F.array().cast("array<string>").alias("source_urls"),
            F.lit(None).cast("string").alias("category"),
            F.array().cast("array<string>").alias("other_contexts"),
            F.lit(None).cast("map<string,array<string>>").alias("additional_details"),
        )
    )
    # stages 2-4 run through the SAME module code as pipeline.run_pipeline
    # (mention_entities / align / connected_components /
    # canonical_edge_rewrite) — the in-memory variant differs only in
    # skipping the checkpoint writes, so the two paths cannot drift.
    from ontoemma_spark.pipeline import canonical_edge_rewrite, mention_entities

    mentions = mention_entities(triples).persist(StorageLevel.MEMORY_AND_DISK)
    kb = kb.persist(StorageLevel.MEMORY_AND_DISK)
    # eager localCheckpoint truncates the 32-feature expression lineage
    # BEFORE the CC loop — without it every CC round and the final
    # rewrite re-analyze the giant feature trees (measured at sf0.1:
    # 9.3s -> 7.8s). This is the in-memory analog of run_pipeline's
    # link-stage parquet checkpoint, so the two paths stay equivalent.
    result = align(mentions, kb)
    try:
        links = result.alignment.localCheckpoint(eager=True)
    finally:
        # the checkpoint holds the links: nothing below reads these
        result.release()
        mentions.unpersist()
        kb.unpersist()
    canon = connected_components(links.select("s_id", "t_id"), src="s_id", dst="t_id")
    return canonical_edge_rewrite(triples, canon).distinct()


# ---------------------------------------------------------------------------
# 31. nn_scores — M3: the trained NN pair scorer over blocking candidates
# ---------------------------------------------------------------------------

def q_nn_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: trained MLP pair scorer (the reference's decision-network
    analog, ontoemma_model.py:73-164) over the even/odd blocking
    candidates. Weights are PINNED (scripts/train_nn.py, deterministic
    backprop); MLPModel.score_pairs projects the forward pass as one
    SQL expression (mlp_forward_sql — whole-stage codegen, zero Python
    in the pair hot path), and the oracle replays the same text in
    DuckDB."""
    from ontoemma_spark.operators.nn_weights import default_nn_model
    from ontoemma_spark.operators.scoring_nn import nn_pair_features

    part = _t(spark, sf_dir, "part")
    cands = _blocking_candidates_df(spark, sf_dir).select("s_id", "t_id")
    s_names = part.select(
        F.col("p_partkey").alias("s_id"), F.col("p_name").alias("s_name")
    )
    t_names = part.select(
        F.col("p_partkey").alias("t_id"), F.col("p_name").alias("t_name")
    )
    featurized = (
        cands.join(F.broadcast(s_names), "s_id")
        .join(F.broadcast(t_names), "t_id")
        .select("s_id", "t_id", *nn_pair_features("s_name", "t_name"))
    )
    model = default_nn_model()
    return model.score_pairs(featurized).select(
        F.col("s_id").cast("bigint"),
        F.col("t_id").cast("bigint"),
        F.round("score", 6).alias("score"),
    )


def _sql_nn_scores() -> str:
    from ontoemma_spark.operators.nn_weights import default_nn_model
    from ontoemma_spark.operators.scoring_nn import (
        mlp_forward_sql,
        sql_pair_features,
    )

    feats = sql_pair_features("sp.p_name", "tp.p_name")
    score = mlp_forward_sql(default_nn_model(), feats)
    return _BLOCK_SQL_CTES + f"""
, kept AS (SELECT s_id, t_id FROM ranked WHERE rank <= {BLOCK_TOP_K})
SELECT CAST(k.s_id AS BIGINT) AS s_id, CAST(k.t_id AS BIGINT) AS t_id,
       round({score}, 6) AS score
FROM kept k
JOIN part sp ON sp.p_partkey = k.s_id
JOIN part tp ON tp.p_partkey = k.t_id
"""


# ---------------------------------------------------------------------------
# 32-35. source-format round trips (S4/S5/S9/S11/S12/S13) — each query
# SERIALIZES a fixture deterministically from the part table into the
# real on-disk format, runs the REAL parser on it, and the oracle
# recomputes the parsed rows closed-form from part. This puts the
# OBO/OWL/TSV/OAEI parse semantics under the driver's value-hash gate
# (they were pytest-only in round 1).
# ---------------------------------------------------------------------------

_FIXTURE_KEY_MAX = 60  # part keys 0..59 feed the serialized fixtures


def _fixture_dir(sf_dir: str) -> str:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ontoemma_srcfix_{tag}")
    os.makedirs(d, exist_ok=True)
    return d


def _fixture_parts(spark: SparkSession, sf_dir: str):
    part = _t(spark, sf_dir, "part")
    return sorted(
        part.filter(F.col("p_partkey") < _FIXTURE_KEY_MAX)
        .select("p_partkey", "p_name")
        .collect(),
        key=lambda r: r["p_partkey"],
    )


def q_obo_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: serialize part rows as OBO [Term] stanzas (id/name/synonym/
    def/is_a/relationship), parse with the real stanza parser
    (sources/obo.py — kb_load_refactor.py:128-244 semantics), emit one
    row per entity with alias/definition and per-relation edge counts."""
    from ontoemma_spark.sources.obo import load_obo

    rows = _fixture_parts(spark, sf_dir)
    lines = []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        lines.append("[Term]")
        lines.append(f"id: T{k:04d}")
        lines.append(f"name: {name}")
        lines.append(f'synonym: "{name} synonym" EXACT []')
        lines.append(f'def: "definition of {name}" [demo:src]')
        if k >= 2:
            lines.append(f"is_a: T{k - 2:04d} ! parent")
        if k >= 3 and k % 2 == 1:
            lines.append(f"relationship: part_of T{k - 1:04d} ! whole")
        lines.append("")
    path = os.path.join(_fixture_dir(sf_dir), "fixture.obo")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    ents, edges = load_obo(spark, path, kb_prefix="OBO")
    isa = edges.filter(F.col("relation_type") == "is_a").groupBy(
        F.col("subject_id").alias("research_entity_id")
    ).agg(F.count(F.lit(1)).alias("n_is_a"))
    po = edges.filter(F.col("relation_type") == "part_of").groupBy(
        F.col("subject_id").alias("research_entity_id")
    ).agg(F.count(F.lit(1)).alias("n_part_of"))
    return (
        ents.join(isa, "research_entity_id", "left")
        .join(po, "research_entity_id", "left")
        .select(
            "research_entity_id",
            "canonical_name",
            F.array_join("aliases", "|").alias("aliases_joined"),
            "definition",
            F.coalesce("n_is_a", F.lit(0)).cast("bigint").alias("n_is_a"),
            F.coalesce("n_part_of", F.lit(0)).cast("bigint").alias("n_part_of"),
        )
    )


SQL_OBO_LOAD = f"""
SELECT 'OBO:T' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS research_entity_id,
       p_name AS canonical_name,
       p_name || '|' || p_name || ' synonym' AS aliases_joined,
       'definition of ' || p_name AS definition,
       CAST(CASE WHEN p_partkey >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_is_a,
       CAST(CASE WHEN p_partkey >= 3 AND p_partkey % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_part_of
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


def q_owl_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: serialize part rows as owl:Class RDF/XML (rdfs:label,
    skos:altLabel on even keys, skos:definition, rdfs:subClassOf),
    parse with the real ElementTree parser (sources/owl.py —
    kb_load_refactor.py:288-452 semantics)."""
    from ontoemma_spark.sources.owl import load_owl

    rows = _fixture_parts(spark, sf_dir)
    cells = []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        alt = (
            f'<skos:altLabel xmlns:skos="http://www.w3.org/2004/02/skos/core#">'
            f"{name} alt</skos:altLabel>"
            if k % 2 == 0
            else ""
        )
        sub = (
            f'<rdfs:subClassOf rdf:resource="http://example.org/onto#C{k - 2}"/>'
            if k >= 2
            else ""
        )
        cells.append(
            f'<owl:Class rdf:about="http://example.org/onto#C{k}">'
            f"<rdfs:label>{name}</rdfs:label>{alt}"
            f'<skos:definition xmlns:skos="http://www.w3.org/2004/02/skos/core#">'
            f"def of {name}</skos:definition>{sub}</owl:Class>"
        )
    xml = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"\n'
        '  xmlns:skos="http://www.w3.org/2004/02/skos/core#"\n'
        '  xmlns:owl="http://www.w3.org/2002/07/owl#">\n'
        + "\n".join(cells)
        + "\n</rdf:RDF>\n"
    )
    path = os.path.join(_fixture_dir(sf_dir), "fixture.owl")
    with open(path, "w") as f:
        f.write(xml)
    ents, edges = load_owl(spark, path, kb_prefix="OWL")
    sub = edges.groupBy(F.col("subject_id").alias("research_entity_id")).agg(
        F.count(F.lit(1)).alias("n_sub")
    )
    return ents.join(sub, "research_entity_id", "left").select(
        "research_entity_id",
        "canonical_name",
        F.size("aliases").cast("bigint").alias("n_aliases"),
        "definition",
        F.coalesce("n_sub", F.lit(0)).cast("bigint").alias("n_subclassof"),
    )


SQL_OWL_LOAD = f"""
SELECT 'OWL:C' || CAST(p_partkey AS VARCHAR) AS research_entity_id,
       p_name AS canonical_name,
       CAST(CASE WHEN p_partkey % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_aliases,
       'def of ' || p_name AS definition,
       CAST(CASE WHEN p_partkey >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_subclassof
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


def _fixture_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < _FIXTURE_KEY_MAX)
    ).select(
        F.concat(F.lit("S"), F.col("p_partkey").cast("string")).alias("s_id"),
        F.concat(F.lit("T"), (F.col("p_partkey") + 1).cast("string")).alias("t_id"),
        ((F.col("p_partkey") % 7) / F.lit(7.0)).alias("score"),
    )


def q_alignment_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12→S9: write the 4-col gold TSV with the real sink (score-desc
    sort, constant provenance — OntoEmma.py:952-968) and read it back
    with the real source; value round-trip under the hash gate."""
    from ontoemma_spark.sources.alignment import (
        load_alignment_tsv,
        write_alignment_tsv,
    )

    path = os.path.join(_fixture_dir(sf_dir), "alignment_tsv")
    write_alignment_tsv(_fixture_alignment(spark, sf_dir), path)
    return load_alignment_tsv(spark, path).select(
        "s_id", "t_id", F.round("label", 6).alias("label"), "provenance"
    )


SQL_ALIGNMENT_ROUNDTRIP = f"""
SELECT 'S' || CAST(p_partkey AS VARCHAR) AS s_id,
       'T' || CAST(p_partkey + 1 AS VARCHAR) AS t_id,
       round((p_partkey % 7) / 7.0, 6) AS label,
       'OntoEmma' AS provenance
FROM part WHERE p_partkey % 2 = 0 AND p_partkey < {_FIXTURE_KEY_MAX}
"""


def q_alignment_rdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13→S11: OAEI alignment RDF sink + source round trip
    (OntoEmma.py:970-1016 / :127-154)."""
    from ontoemma_spark.sources.owl import (
        load_alignment_rdf,
        write_alignment_rdf,
    )

    path = os.path.join(_fixture_dir(sf_dir), "alignment.rdf")
    write_alignment_rdf(_fixture_alignment(spark, sf_dir), path)
    return load_alignment_rdf(spark, path).select(
        "s_id", "t_id", F.round("score", 6).alias("score")
    )


SQL_ALIGNMENT_RDF_ROUNDTRIP = f"""
SELECT 'S' || CAST(p_partkey AS VARCHAR) AS s_id,
       'T' || CAST(p_partkey + 1 AS VARCHAR) AS t_id,
       round((p_partkey % 7) / 7.0, 6) AS score
FROM part WHERE p_partkey % 2 = 0 AND p_partkey < {_FIXTURE_KEY_MAX}
"""


# ---------------------------------------------------------------------------
# 36. neighborhood_sim — G3: one round of neighborhood score propagation
# (the reference tests iterations=1 and 5 explicitly,
# test_neighborhood_sim.py:31-44; align() defaults to 0 = identity)
# ---------------------------------------------------------------------------

def q_neighborhood_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 (OntoEmma.py:631-681) at iterations=1 over chain KBs derived
    from part keys: s graph e→e+2 (even), t graph o→o+2 (odd), scored
    diagonal pairs (e, e+1). One propagation round replaces each pair's
    score with the exp(-(l1+l2)/2)-weighted mean of equal-path-length
    scored neighbor pairs (self at weight 1, the (e+2, e+3) pair at
    weight e^-1). Runs the REAL bfs_region + neighborhood_similarity
    operators; the oracle computes the same weighted mean closed-form."""
    from ontoemma_spark.operators.graph import bfs_region, neighborhood_similarity

    part = _t(spark, sf_dir, "part")
    even = part.filter((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < 100))
    scores = even.select(
        F.col("p_partkey").alias("s_id"),
        (F.col("p_partkey") + 1).alias("t_id"),
        ((F.col("p_partkey") * 7 % 11) / F.lit(11.0)).alias("score"),
    )
    s_edges = even.filter(F.col("p_partkey") + 2 < 100).select(
        F.col("p_partkey").alias("subject_id"),
        (F.col("p_partkey") + 2).alias("object_id"),
    )
    t_edges = even.filter(F.col("p_partkey") + 3 < 101).select(
        (F.col("p_partkey") + 1).alias("subject_id"),
        (F.col("p_partkey") + 3).alias("object_id"),
    )
    s_regions = bfs_region(s_edges, scores.select(F.col("s_id").alias("seed")), steps=1)
    t_regions = bfs_region(t_edges, scores.select(F.col("t_id").alias("seed")), steps=1)
    out = neighborhood_similarity(scores, s_regions, t_regions, iterations=1)
    return out.select(
        F.col("s_id").cast("bigint"),
        F.col("t_id").cast("bigint"),
        F.round("score", 6).alias("score"),
    )


SQL_NEIGHBORHOOD_SIM = """
WITH scores AS (
  SELECT p_partkey AS s_id, p_partkey + 1 AS t_id,
         (p_partkey * 7 % 11) / 11.0 AS score
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 100
)
SELECT CAST(a.s_id AS BIGINT) AS s_id, CAST(a.t_id AS BIGINT) AS t_id,
       round(
         (1.0 * a.score + CASE WHEN b.s_id IS NOT NULL THEN exp(-1.0) * b.score ELSE 0.0 END)
         / (1.0 + CASE WHEN b.s_id IS NOT NULL THEN exp(-1.0) ELSE 0.0 END), 6) AS score
FROM scores a LEFT JOIN scores b ON b.s_id = a.s_id + 2
"""


# The oracle replays every stage of q_kg_pipeline in DuckDB:
#   pages/triples     — the deterministic page synthesis + the pattern
#                       extractor's output on it (same closed form the
#                       green triple_extract oracle uses);
#   toks/idf/vocab    — entity_tokens (word tokens minus stopwords ∪
#                       NUL-padded char-5-grams of the normalized
#                       alias, blocking.py:31) + the ln(20) IDF floor;
#   pairs/ranked      — the blocking join + top-100 window
#                       (blocking.py:79);
#   equiv/links       — normalized-alias equivalence restricted to
#                       candidates (string_equiv.py:27) + BEST strategy
#                       (all equiv scores are 1.0 ≥ 0.9, so BEST = min
#                       t_id per source, strategy.py:20);
#   walk/cc           — hash-min connected components as a RECURSIVE
#                       reachability closure: component(x) = min node
#                       reachable from x over symmetrized link edges —
#                       the generic fixpoint, valid for any link graph;
#   final SELECT      — triple endpoint rewrite to canonical ids.
# The model-scoring branch is provably empty on this input: every
# source with any candidate has its exact twin at rank 1 (identical
# token sets ⇒ maximal score), so the string-equiv anti-join removes
# all candidates before scoring (align.py:87-92).
SQL_KG_PIPELINE = f"""
WITH RECURSIVE pages AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, string_split(text, ' ') AS t FROM documents
),
triples AS (
  SELECT url, t[1] AS subj, 'is_a' AS pred, t[2] AS obj FROM pages
  UNION ALL
  SELECT url, t[3] AS subj, 'part_of' AS pred, t[4] AS obj FROM pages
),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(t[1:4]) AS w FROM pages
  )
),
n_ents AS (SELECT count(*) AS n FROM words),
norm AS (
  SELECT w, translate(lower(trim(w)), '_-', ' ') AS nw FROM words
),
toks AS (
  SELECT w, token FROM (
    SELECT w, unnest(list_distinct(
      list_filter(regexp_extract_all(nw, '[A-Za-z0-9]+'),
                  x -> NOT list_contains({_STOP_LIST_SQL}, x))
      || list_transform(
           generate_series(1, length(repeat(chr(0),4) || nw || repeat(chr(0),4)) - 4),
           i -> substr(repeat(chr(0),4) || nw || repeat(chr(0),4), i, 5))
    )) AS token
    FROM norm
  )
),
idf AS (
  SELECT token, ln((SELECT n FROM n_ents) / count(*) + 1) AS idf
  FROM toks GROUP BY token
),
vocab AS (SELECT token, idf FROM idf WHERE idf >= ln(20)),
pairs AS (
  SELECT s.w AS sw, tt.w AS tw, sum(v.idf) AS cand_score
  FROM toks s JOIN vocab v USING (token) JOIN toks tt USING (token)
  GROUP BY s.w, tt.w
),
ranked AS (
  SELECT sw, tw, row_number() OVER (
           PARTITION BY sw ORDER BY cand_score DESC, 'KB:' || tw ASC) AS rank
  FROM pairs
),
cands AS (SELECT sw, tw FROM ranked WHERE rank <= {config.KEEP_TOP_K_CANDIDATES}),
equiv AS (
  SELECT c.sw, c.tw FROM cands c
  JOIN norm ns ON ns.w = c.sw JOIN norm nt ON nt.w = c.tw
  WHERE ns.nw = nt.nw
),
links AS (
  SELECT 'MENTION:' || sw AS s_id, min('KB:' || tw) AS t_id
  FROM equiv GROUP BY sw
),
edges AS (
  SELECT s_id AS src, t_id AS dst FROM links
  UNION
  SELECT t_id, s_id FROM links
),
walk AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT e.dst, w.reach FROM walk w JOIN edges e ON w.node = e.src
),
cc AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
mention_map AS (
  SELECT substr(node, 9) AS w, component FROM cc WHERE node LIKE 'MENTION:%'
)
SELECT DISTINCT
  coalesce(sm.component, 'MENTION:' || tr.subj) AS subject_id,
  tr.pred AS relation_type,
  coalesce(om.component, 'MENTION:' || tr.obj) AS object_id
FROM triples tr
LEFT JOIN mention_map sm ON sm.w = tr.subj
LEFT JOIN mention_map om ON om.w = tr.obj
"""


# 37. sessionization — gap-timeout sessions over the events table
SESSION_GAP_S = 43_200  # 12h: splits sf0.01's 10k events into ~3.3k sessions


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-timeout sessionization (streaming/sessions.py
    sessionize_batch): two-window sessionization, one shuffle on
    user_id. tests/test_sessionization.py pins it to the python twin on
    controlled input; this query gives the family its DuckDB-oracle
    row. Timestamps emitted as epoch microseconds (bigint) so the
    value-hash compare is engine-neutral."""
    from ontoemma_spark.streaming.sessions import sessionize_batch

    events = _t(spark, sf_dir, "events")
    s = sessionize_batch(events, gap_seconds=SESSION_GAP_S)
    return s.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


SQL_SESSIONIZATION = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, sid
"""


# 40. kb_json_roundtrip — S1/S2: dump → load round trip
def q_kb_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: build a KB from part rows, dump_kb_json (single-object
    collect-to-driver format, the reference's _json_dump shape), load it
    back with the real loader, emit entities + per-entity edge counts
    (the loader's '<s>' default applies to NULL definitions only —
    empty strings round-trip verbatim)."""
    from ontoemma_spark.sources.kb_json import dump_kb_json, load_kb_json

    rows = _fixture_parts(spark, sf_dir)
    ents = spark.createDataFrame(
        [
            (
                f"KBJ:{r['p_partkey']:04d}",
                r["p_name"],
                [r["p_name"], r["p_name"].upper()],
                (f"def {r['p_name']}" if r["p_partkey"] % 2 == 0 else ""),
                [],
                None,
                [],
                None,
            )
            for r in rows
        ],
        "research_entity_id string, canonical_name string, aliases array<string>,"
        " definition string, source_urls array<string>, category string,"
        " other_contexts array<string>,"
        " additional_details map<string,array<string>>",
    )
    edges = spark.createDataFrame(
        [
            (f"KBJ:{r['p_partkey']:04d}", f"KBJ:{r['p_partkey'] - 1:04d}", "is_a", False, None)
            for r in rows
            if r["p_partkey"] >= 1
        ],
        "subject_id string, object_id string, relation_type string,"
        " symmetric boolean, labels array<string>",
    )
    path = os.path.join(_fixture_dir(sf_dir), "fixture_kb.json")
    dump_kb_json(ents, edges, "fixture", path)
    ents2, edges2 = load_kb_json(spark, path)
    deg = edges2.groupBy(F.col("subject_id").alias("research_entity_id")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    return (
        ents2.join(deg, "research_entity_id", "left")
        .select(
            "research_entity_id",
            "canonical_name",
            F.array_join("aliases", "|").alias("aliases_joined"),
            "definition",
            F.coalesce("n_out", F.lit(0)).cast("bigint").alias("n_out"),
        )
    )


SQL_KB_JSON_ROUNDTRIP = f"""
SELECT 'KBJ:' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS research_entity_id,
       p_name AS canonical_name,
       p_name || '|' || upper(p_name) AS aliases_joined,
       CASE WHEN p_partkey % 2 = 0 THEN 'def ' || p_name ELSE '' END AS definition,
       CAST(CASE WHEN p_partkey >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_out
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


# 41. mesh_load — S6: MeSH ASCII record parser
def q_mesh_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: serialize part rows as MeSH *NEWRECORD blocks (UI/MH/ENTRY/
    MS), parse with the real record parser (sources/obo.py load_mesh —
    kb_load_refactor.py:246-285 semantics)."""
    from ontoemma_spark.sources.obo import load_mesh

    rows = _fixture_parts(spark, sf_dir)
    blocks = []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        blocks.append("*NEWRECORD")
        blocks.append(f"UI = D{k:06d}")
        blocks.append(f"MH = {name}")
        blocks.append(f"ENTRY = {name} entry|T047|NON|EQV")
        if k % 2 == 0:
            blocks.append(f"MS = mesh def of {name}")
        blocks.append("")
    path = os.path.join(_fixture_dir(sf_dir), "fixture.mesh")
    with open(path, "w") as f:
        f.write("\n".join(blocks))
    ents = load_mesh(spark, path)
    return ents.select(
        "research_entity_id",
        "canonical_name",
        F.array_join("aliases", "|").alias("aliases_joined"),
        "definition",
    )


SQL_MESH_LOAD = f"""
SELECT 'MSH:D' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS research_entity_id,
       p_name AS canonical_name,
       p_name || '|' || p_name || ' entry' AS aliases_joined,
       CASE WHEN p_partkey % 2 = 0 THEN 'mesh def of ' || p_name ELSE '' END AS definition
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


# 42. dbpedia_load — S7: distributed N-Triples parser
def q_dbpedia_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: serialize part rows as N-Triples (rdfs:label ×2, abstract on
    even keys, one non-en label that must be dropped), parse with the
    DISTRIBUTED line parser (sources/dbpedia.py — unlike the reference's
    driver-side rdflib, this scales to full DBpedia dumps)."""
    from ontoemma_spark.sources.dbpedia import load_dbpedia_ntriples

    rows = _fixture_parts(spark, sf_dir)
    lines = []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        subj = f"<http://dbpedia.org/resource/P{k:04d}>"
        label = "<http://www.w3.org/2000/01/rdf-schema#label>"
        abstract = "<http://dbpedia.org/ontology/abstract>"
        lines.append(f'{subj} {label} "{name}"@en .')
        lines.append(f'{subj} {label} "{name} (page)"@en .')
        lines.append(f'{subj} {label} "{name} fr"@fr .')  # dropped: lang filter
        if k % 2 == 0:
            lines.append(f'{subj} {abstract} "abstract of {name}"@en .')
    path = os.path.join(_fixture_dir(sf_dir), "fixture.nt")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    ents = load_dbpedia_ntriples(spark, path)
    return ents.select(
        "research_entity_id",
        "canonical_name",
        F.array_join("aliases", "|").alias("aliases_joined"),
        "definition",
    )


SQL_DBPEDIA_LOAD = f"""
SELECT 'DBP:P' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS research_entity_id,
       p_name AS canonical_name,
       p_name || '|' || p_name || ' (page)' AS aliases_joined,
       CASE WHEN p_partkey % 2 = 0 THEN 'abstract of ' || p_name ELSE '' END AS definition
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


# 43a. training_jsonlines_roundtrip — S16 sink → S10 load
def q_training_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16/S10: enrich deterministic pairs with entity structs, write
    training jsonlines with the real sink, load with the real loader,
    emit (s_id, t_id, label, names)."""
    from ontoemma_spark.sources.alignment import (
        load_alignment_jsonlines,
        write_training_jsonlines,
    )

    rows = _fixture_parts(spark, sf_dir)
    pairs = spark.createDataFrame(
        [
            (
                float(r["p_partkey"] % 2),
                {"research_entity_id": f"S:{r['p_partkey']:04d}",
                 "canonical_name": r["p_name"]},
                {"research_entity_id": f"T:{r['p_partkey']:04d}",
                 "canonical_name": r["p_name"] + " target"},
            )
            for r in rows
        ],
        "label double,"
        " source_ent struct<research_entity_id:string,canonical_name:string>,"
        " target_ent struct<research_entity_id:string,canonical_name:string>",
    )
    path = os.path.join(_fixture_dir(sf_dir), "fixture_train_jsonl")
    write_training_jsonlines(pairs, path)
    back = load_alignment_jsonlines(spark, path)
    return back.select(
        "s_id", "t_id", F.col("label").cast("double").alias("label"),
        F.col("source_ent.canonical_name").alias("s_name"),
        F.col("target_ent.canonical_name").alias("t_name"),
    )


SQL_TRAINING_JSONLINES_ROUNDTRIP = f"""
SELECT 'S:' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS s_id,
       'T:' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS t_id,
       CAST(p_partkey % 2 AS DOUBLE) AS label,
       p_name AS s_name,
       p_name || ' target' AS t_name
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


# 43b. relation_classes — J5/P1: explode → broadcast join → re-nest
def q_relation_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: derive per-entity par/chd/sib/syn neighbor-NAME lists from an
    edge table (kb_utils_refactor.py:225-243 stores names, not ids) —
    the explode→broadcast-join→collect_set re-nest plan."""
    from ontoemma_spark.operators.normalize import derive_relation_classes

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < _FIXTURE_KEY_MAX)
    ents = part.select(
        F.concat(F.lit("E:"), F.col("p_partkey").cast("string")).alias(
            "research_entity_id"
        ),
        F.col("p_name").alias("canonical_name"),
    )
    edges = part.filter(F.col("p_partkey") >= 1).select(
        F.concat(F.lit("E:"), F.col("p_partkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("E:"), (F.col("p_partkey") - 1).cast("string")).alias(
            "object_id"
        ),
        F.when(F.col("p_partkey") % 3 == 0, "PAR")
        .when(F.col("p_partkey") % 3 == 1, "CHD")
        .otherwise("SY")
        .alias("relation_type"),
    )
    out = derive_relation_classes(ents, edges)
    return out.select(
        "research_entity_id",
        F.array_join("par_relations", "|").alias("par_joined"),
        F.array_join("chd_relations", "|").alias("chd_joined"),
        F.array_join("syn_relations", "|").alias("syn_joined"),
        F.array_join("sib_relations", "|").alias("sib_joined"),
    )


SQL_RELATION_CLASSES = f"""
WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}),
nbr AS (
  SELECT a.p_partkey,
         CASE WHEN a.p_partkey % 3 = 0 THEN 'PAR'
              WHEN a.p_partkey % 3 = 1 THEN 'CHD' ELSE 'SY' END AS rel,
         b.p_name AS nbr_name
  FROM p a JOIN p b ON b.p_partkey = a.p_partkey - 1
  WHERE a.p_partkey >= 1
)
SELECT 'E:' || CAST(p.p_partkey AS VARCHAR) AS research_entity_id,
       coalesce((SELECT nbr_name FROM nbr WHERE nbr.p_partkey = p.p_partkey AND rel = 'PAR'), '') AS par_joined,
       coalesce((SELECT nbr_name FROM nbr WHERE nbr.p_partkey = p.p_partkey AND rel = 'CHD'), '') AS chd_joined,
       coalesce((SELECT nbr_name FROM nbr WHERE nbr.p_partkey = p.p_partkey AND rel = 'SY'), '') AS syn_joined,
       '' AS sib_joined
FROM p
"""


# 43c. umls_definitions — S14/J9/A7: MRDEF join + concat onto entities
def q_umls_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/A7: serialize part rows as MRCONSO + MRDEF fixtures, run the
    real RRF scan → collapse → AUI-join definitions chain
    (extract_training_data_from_umls.py:209-227): every definition text
    for an entity's atoms concatenated sorted with ' '."""
    from ontoemma_spark.sources.umls import (
        collapse_concepts,
        extract_concepts,
        extract_definitions,
    )

    rows = _fixture_parts(spark, sf_dir)
    conso, mrdef = [], []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        # two atoms per concept (PT + SY) → two AUIs, one entity
        conso.append(f"C{k:04d}|ENG|P|L{k}|PF|S{k}|Y|A{2*k:05d}||||GO|PT|G{k:04d}|{name}|0|N||")
        conso.append(f"C{k:04d}|ENG|P|L{k}s|PF|S{k}s|Y|A{2*k+1:05d}||||GO|SY|G{k:04d}|{name} syn|0|N||")
        if k % 2 == 0:
            mrdef.append(f"C{k:04d}|A{2*k:05d}|AT{k}||GO|def a {name}|N||")
        if k % 4 == 0:
            mrdef.append(f"C{k:04d}|A{2*k+1:05d}|AT{k}b||GO|def b {name}|N||")
    d = _fixture_dir(sf_dir)
    with open(os.path.join(d, "fx_MRCONSO.RRF"), "w") as f:
        f.write("\n".join(conso) + "\n")
    with open(os.path.join(d, "fx_MRDEF.RRF"), "w") as f:
        f.write("\n".join(mrdef) + "\n")
    ents = collapse_concepts(
        extract_concepts(spark, os.path.join(d, "fx_MRCONSO.RRF"))
    )
    with_defs = extract_definitions(ents, spark, os.path.join(d, "fx_MRDEF.RRF"))
    return with_defs.select(
        "research_entity_id",
        "canonical_name",
        F.array_join("aliases", "|").alias("aliases_joined"),
        "definition",
    )


SQL_UMLS_DEFINITIONS = f"""
SELECT 'GO:G' || lpad(CAST(p_partkey AS VARCHAR), 4, '0') AS research_entity_id,
       p_name AS canonical_name,
       lower(p_name) || '|' || lower(p_name) || ' syn' AS aliases_joined,
       CASE WHEN p_partkey % 4 = 0 THEN 'def a ' || p_name || ' def b ' || p_name
            WHEN p_partkey % 2 = 0 THEN 'def a ' || p_name
            ELSE '' END AS definition
FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX}
"""


# 43d. pair_features — J4 + the SQL-expressible engineered features
def q_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engineered-feature join (J4: featurize_pairs broadcast
    rehydration) with 10 of the 32 features hash-checked against SQL —
    name equality/token/set variants, NUL-padded char-4/5-gram jaccard,
    alias overlap, acronym cross-overlap, definition token jaccard with
    the -1.0 empty-set quirk, and wiki-entity overlap/jaccard from
    additional_details. Target names are mutated deterministically so
    every feature takes multiple values (reversed token order separates
    list- from set-equality; a 'zq' suffix separates grams)."""
    from ontoemma_spark.operators.features import entity_feature_table, featurize_pairs

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < _FIXTURE_KEY_MAX * 4)
    k = F.col("p_partkey")
    first_tok = F.element_at(F.split("p_name", " "), 1)
    t_name = (
        F.when(k % 7 == 0, F.concat_ws(" ", F.reverse(F.split("p_name", " "))))
        .when(k % 5 == 0, F.col("p_name"))
        .otherwise(F.concat(F.col("p_name"), F.lit(" zq")))
    )

    def ent(side: str):
        name = F.col("p_name") if side == "s" else t_name
        definition = (
            F.when(k % 3 == 0, F.lit("")).otherwise(F.col("p_name"))
            if side == "s"
            else F.when(k % 4 == 0, F.col("p_name")).otherwise(F.lit(""))
        )
        wiki_mod = 2 if side == "s" else 3
        return part.select(
            F.concat(F.lit(f"{side.upper()}:"), k.cast("string")).alias(
                "research_entity_id"
            ),
            name.alias("canonical_name"),
            F.array(name).alias("aliases"),
            definition.alias("definition"),
            F.array().cast("array<string>").alias("source_urls"),
            F.lit(None).cast("string").alias("category"),
            F.array().cast("array<string>").alias("other_contexts"),
            F.create_map(
                F.lit("wiki_entities"),
                F.when(k % wiki_mod == 0, F.array(first_tok)).otherwise(
                    F.array().cast("array<string>")
                ),
            ).alias("additional_details"),
        )

    pairs = part.select(
        F.concat(F.lit("S:"), k.cast("string")).alias("s_id"),
        F.concat(F.lit("T:"), k.cast("string")).alias("t_id"),
    )
    feats = featurize_pairs(pairs, entity_feature_table(ent("s")), entity_feature_table(ent("t")))
    keep = [
        "has_same_canonical_name",
        "has_same_canonical_name_tokens",
        "has_same_canonical_name_token_set",
        "name_char_4gram_jaccard",
        "name_char_5gram_jaccard",
        "has_alias_in_common",
        "has_same_acronym",
        "definition_token_jaccard",
        "has_same_wiki_entity",
        "wiki_entity_jaccard",
    ]
    return feats.select(
        "s_id", "t_id", *[F.round(F.col(c), 6).alias(c) for c in keep]
    )


def _sql_grams(expr: str, n: int) -> str:
    pad = f"repeat(chr(0), {n - 1})"
    padded = f"({pad} || {expr} || {pad})"
    return (
        f"list_distinct([substr({padded}, i, {n}) "
        f"for i in range(1, len({expr}) + {n})])"
    )


def _sql_set_jac(a: str, b: str) -> str:
    return (
        f"CASE WHEN len({a}) > 0 AND len({b}) > 0 "
        f"THEN len(list_intersect({a}, {b})) / "
        f"len(list_distinct(list_concat({a}, {b}))) ELSE -1.0 END"
    )


SQL_PAIR_FEATURES = f"""
WITH base AS (
  SELECT p_partkey AS k, p_name AS s_name,
         CASE WHEN p_partkey % 7 = 0
              THEN array_to_string(list_reverse(str_split(p_name, ' ')), ' ')
              WHEN p_partkey % 5 = 0 THEN p_name
              ELSE p_name || ' zq' END AS t_name,
         CASE WHEN p_partkey % 3 = 0 THEN '' ELSE p_name END AS s_def,
         CASE WHEN p_partkey % 4 = 0 THEN p_name ELSE '' END AS t_def,
         CASE WHEN p_partkey % 2 = 0 THEN [str_split(p_name, ' ')[1]]
              ELSE []::VARCHAR[] END AS s_wiki,
         CASE WHEN p_partkey % 3 = 0 THEN [str_split(p_name, ' ')[1]]
              ELSE []::VARCHAR[] END AS t_wiki
  FROM part WHERE p_partkey < {_FIXTURE_KEY_MAX * 4}
), f AS (
  SELECT k, s_name, t_name, s_def, t_def, s_wiki, t_wiki,
         str_split(s_name, ' ') AS s_toks, str_split(t_name, ' ') AS t_toks,
         array_to_string([substr(x, 1, 1) for x in str_split(s_name, ' ')], '') AS s_acr,
         array_to_string([substr(x, 1, 1) for x in str_split(t_name, ' ')], '') AS t_acr
  FROM base
)
SELECT 'S:' || CAST(k AS VARCHAR) AS s_id,
       'T:' || CAST(k AS VARCHAR) AS t_id,
       CAST(s_name = t_name AS DOUBLE) AS has_same_canonical_name,
       CAST(s_toks = t_toks AS DOUBLE) AS has_same_canonical_name_tokens,
       CAST(list_sort(list_distinct(s_toks)) = list_sort(list_distinct(t_toks))
            AS DOUBLE) AS has_same_canonical_name_token_set,
       round({_sql_set_jac(_sql_grams('s_name', 4), _sql_grams('t_name', 4))}, 6)
           AS name_char_4gram_jaccard,
       round({_sql_set_jac(_sql_grams('s_name', 5), _sql_grams('t_name', 5))}, 6)
           AS name_char_5gram_jaccard,
       CAST(s_name = t_name AS DOUBLE) AS has_alias_in_common,
       CAST(s_acr = t_acr OR s_acr = t_name OR s_name = t_acr AS DOUBLE)
           AS has_same_acronym,
       round({_sql_set_jac("list_filter(list_distinct(str_split(s_def, ' ')), x -> len(x) > 0)",
                           "list_filter(list_distinct(str_split(t_def, ' ')), x -> len(x) > 0)")}, 6)
           AS definition_token_jaccard,
       CAST(len(list_intersect(s_wiki, t_wiki)) > 0 AS DOUBLE) AS has_same_wiki_entity,
       round({_sql_set_jac('s_wiki', 't_wiki')}, 6) AS wiki_entity_jaccard
FROM f
"""


# 43e. lr_scores — M2: native sigmoid scoring over pair features
_LR_DEMO_WEIGHTS = {
    "has_same_canonical_name": 2.0,
    "has_same_canonical_name_token_set": 1.5,
    "name_char_4gram_jaccard": 1.2,
    "name_char_5gram_jaccard": 0.8,
    "has_alias_in_common": 0.6,
    "has_same_acronym": 0.4,
    "definition_token_jaccard": 0.9,
    "has_same_wiki_entity": 0.5,
    "wiki_entity_jaccard": 0.7,
}
_LR_DEMO_BIAS = -1.5


def q_lr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: LRModel.score_pairs — sigmoid(b + Σ w·f) as one native
    expression (the 10^12-pair hot path: zero Python)
    — over the hash-checked pair features with pinned demo weights."""
    from ontoemma_spark.operators.scoring import LRModel

    feats = q_pair_features(spark, sf_dir)
    model = LRModel(weights=_LR_DEMO_WEIGHTS, bias=_LR_DEMO_BIAS)
    return model.score_pairs(feats).select(
        "s_id", "t_id", F.round("score", 6).alias("score")
    )


def _sql_lr_scores() -> str:
    z = " + ".join(
        f"({w!r} * {name})" for name, w in _LR_DEMO_WEIGHTS.items()
    )
    return f"""
WITH pf AS ({SQL_PAIR_FEATURES})
SELECT s_id, t_id,
       round(1.0 / (1.0 + exp(-({_LR_DEMO_BIAS!r} + {z}))), 6) AS score
FROM pf
"""


# 43. kb_validate_filter — P2/P3 validation + P7/P8/P9 ingest filters
def q_edge_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: validate_edges over an edge table constructed from orders —
    every 9th row loses its relation_type, every 13th its object —
    returning the surviving edges plus the quarantine count as a column
    (both sides of the split are pinned by one result)."""
    from ontoemma_spark.sources.kb_json import validate_edges

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("subject_id"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("C:"), F.col("o_custkey").cast("string")))
        .alias("object_id"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("placed_by"))
        .alias("relation_type"),
        F.lit(False).alias("symmetric"),
        F.lit(None).cast("array<string>").alias("labels"),
    )
    ok, bad = validate_edges(edges)
    n_bad = bad.count()
    return ok.select(
        "subject_id", "object_id", "relation_type",
        F.lit(n_bad).cast("bigint").alias("n_quarantined"),
    )


SQL_EDGE_VALIDATE = """
WITH e AS (
  SELECT 'O:' || CAST(o_orderkey AS VARCHAR) AS subject_id,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE 'C:' || CAST(o_custkey AS VARCHAR) END AS object_id,
         CASE WHEN o_orderkey % 9 = 0 THEN NULL ELSE 'placed_by' END AS relation_type
  FROM orders
)
SELECT subject_id, object_id, relation_type,
       (SELECT CAST(count(*) AS BIGINT) FROM e
        WHERE relation_type IS NULL OR subject_id IS NULL OR object_id IS NULL)
           AS n_quarantined
FROM e
WHERE relation_type IS NOT NULL AND subject_id IS NOT NULL AND object_id IS NOT NULL
"""


def q_kb_validate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation + ingest-filter chain (P2, P7, P8, P9) over an entity
    table constructed deterministically from `customer`: empty names are
    quarantined, definition-or-context keeps only documented entities,
    name==id drops unnamed imports, and alias sampling prefixes ≤2
    aliases of length ≤10. Every operator is the real module function."""
    from ontoemma_spark.operators.normalize import (
        filter_has_definition_or_context,
        filter_named_entities,
        sample_aliases,
    )
    from ontoemma_spark.sources.kb_json import validate_entities

    c = _t(spark, sf_dir, "customer")
    ents = c.select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias(
            "research_entity_id"
        ),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(""))
        .when(
            F.col("c_custkey") % 11 == 0,
            F.concat(F.lit("C:"), F.col("c_custkey").cast("string")),
        )
        .otherwise(F.col("c_name"))
        .alias("canonical_name"),
        F.array(
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.concat(F.lit("N"), F.col("c_nationkey").cast("string")),
            F.lower("c_name"),
        ).alias("aliases"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("")).otherwise(
            F.concat(F.col("c_mktsegment"), F.lit(" customer"))
        ).alias("definition"),
        F.when(
            F.col("c_custkey") % 5 == 0, F.array(F.col("c_mktsegment"))
        ).otherwise(F.array().cast("array<string>")).alias("other_contexts"),
    )
    valid, _quarantine = validate_entities(ents)
    kept = filter_named_entities(filter_has_definition_or_context(valid))
    out = sample_aliases(kept, max_aliases=2, max_len=10)
    # NOTE: the driver's result canonicalizer (pandas sort + hash) cannot
    # handle list-typed cells, so the aliases array is serialized to a
    # '|'-joined string on BOTH sides of the oracle pair.
    return out.select(
        "research_entity_id",
        "canonical_name",
        F.array_join("aliases", "|").alias("aliases"),
        F.length("definition").cast("bigint").alias("def_len"),
        F.size("other_contexts").cast("bigint").alias("n_contexts"),
    )


SQL_KB_VALIDATE_FILTER = """
WITH ents AS (
  SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS research_entity_id,
         CASE WHEN c_custkey % 7 = 0 THEN ''
              WHEN c_custkey % 11 = 0 THEN 'C:' || CAST(c_custkey AS VARCHAR)
              ELSE c_name END AS canonical_name,
         [c_name, c_mktsegment, 'N' || CAST(c_nationkey AS VARCHAR),
          lower(c_name)] AS aliases,
         CASE WHEN c_custkey % 3 = 0 THEN ''
              ELSE c_mktsegment || ' customer' END AS definition,
         CASE WHEN c_custkey % 5 = 0 THEN [c_mktsegment]
              ELSE []::VARCHAR[] END AS other_contexts
  FROM customer
)
SELECT research_entity_id, canonical_name,
       array_to_string(list_filter(aliases, a -> len(a) <= 10)[1:2], '|') AS aliases,
       CAST(len(definition) AS BIGINT) AS def_len,
       CAST(len(other_contexts) AS BIGINT) AS n_contexts
FROM ents
WHERE research_entity_id IS NOT NULL AND len(research_entity_id) > 0
  AND canonical_name IS NOT NULL AND len(canonical_name) > 0
  AND (len(definition) > 0 OR len(other_contexts) > 0)
  AND canonical_name <> research_entity_id
"""


# 44. umls_rrf_load — S14 pipe-delimited RRF scan + P6 source filters
def q_umls_rrf_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/P6: serialize part rows as a real 18-field pipe-delimited
    MRCONSO.RRF (trailing '|' included), scan with read_rrf's explicit
    schema, and apply extract_concepts' filters (LAT='ENG', SAB in
    TRAINING_KBS, CODE<>'NOCODE' — extract_training_data_from_umls.py:
    122-143). Corruption pattern: every 7th row is non-English, every
    4th-mod-3 row a non-training SAB, every 11th row NOCODE — each
    filter has rows to drop, so the oracle pins all three."""
    from ontoemma_spark.sources.umls import extract_concepts

    rows = _fixture_parts(spark, sf_dir)
    sabs = ["GO", "HPO", "MSH", "ZZTEST"]  # ZZTEST is not a training KB
    ttys = ["PT", "SY", "MH"]
    lines = []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        fields = [""] * 18
        fields[0] = f"C{k % 20:07d}"                      # CUI
        fields[1] = "FRE" if k % 7 == 0 else "ENG"        # LAT
        fields[7] = f"A{k:07d}"                           # AUI
        fields[11] = sabs[k % 4]                          # SAB
        fields[12] = ttys[k % 3]                          # TTY
        fields[13] = "NOCODE" if k % 11 == 0 else f"{k:05d}"  # CODE
        fields[14] = name                                 # STR
        lines.append("|".join(fields) + "|")
    path = os.path.join(_fixture_dir(sf_dir), "MRCONSO.RRF")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return extract_concepts(spark, path).select(
        "CUI", "AUI", "SAB", "TTY", "CODE", "STR"
    )


SQL_UMLS_RRF_LOAD = f"""
SELECT 'C' || lpad(CAST(p_partkey % 20 AS VARCHAR), 7, '0') AS CUI,
       'A' || lpad(CAST(p_partkey AS VARCHAR), 7, '0') AS AUI,
       CASE p_partkey % 4 WHEN 0 THEN 'GO' WHEN 1 THEN 'HPO'
            WHEN 2 THEN 'MSH' ELSE 'ZZTEST' END AS SAB,
       CASE p_partkey % 3 WHEN 0 THEN 'PT' WHEN 1 THEN 'SY' ELSE 'MH' END AS TTY,
       lpad(CAST(p_partkey AS VARCHAR), 5, '0') AS CODE,
       p_name AS STR
FROM part
WHERE p_partkey < {_FIXTURE_KEY_MAX}
  AND p_partkey % 7 <> 0      -- LAT = 'ENG'
  AND p_partkey % 4 <> 3      -- SAB in training KBs
  AND p_partkey % 11 <> 0     -- CODE <> 'NOCODE'
"""


# 45. remaining_entities — E1: the string-equiv short-circuit anti-join
def q_remaining_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 (OntoEmma.py:536-538): source entities NOT matched by string
    equivalence — the anti-join that keeps exact matches out of the
    model-scoring stage. Runs the real string_equiv_alignment +
    remaining_after over part-derived KBs (name + a per-row unique
    brand alias, so only name collisions match)."""
    from ontoemma_spark.operators.string_equiv import (
        remaining_after,
        string_equiv_alignment,
    )

    part = _t(spark, sf_dir, "part")

    def ents(pred, prefix: str) -> DataFrame:
        return part.filter(pred).select(
            F.concat(F.lit(prefix), F.col("p_partkey").cast("string")).alias(
                "research_entity_id"
            ),
            F.col("p_name").alias("canonical_name"),
            F.array(
                F.col("p_name"),
                F.concat(F.col("p_brand"), F.lit("#"), F.col("p_partkey").cast("string")),
            ).alias("aliases"),
        )

    s = ents((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") < 200), "S:")
    t = ents(F.col("p_partkey") % 2 == 1, "T:")
    matched = string_equiv_alignment(s, t)
    return remaining_after(s, matched, "s_id").select("research_entity_id")


SQL_REMAINING_ENTITIES = """
WITH s AS (
  SELECT 'S:' || CAST(p_partkey AS VARCHAR) AS research_entity_id,
         translate(lower(p_name), '_-', ' ') AS n_name,
         translate(lower(p_brand || '#' || CAST(p_partkey AS VARCHAR)), '_-', ' ') AS n_brand
  FROM part WHERE p_partkey % 2 = 0 AND p_partkey < 200
), t AS (
  SELECT translate(lower(p_name), '_-', ' ') AS n FROM part WHERE p_partkey % 2 = 1
  UNION
  SELECT translate(lower(p_brand || '#' || CAST(p_partkey AS VARCHAR)), '_-', ' ')
  FROM part WHERE p_partkey % 2 = 1
)
SELECT research_entity_id FROM s
WHERE n_name NOT IN (SELECT n FROM t) AND n_brand NOT IN (SELECT n FROM t)
"""


# 46. global_sort_topk — O1: the alignment sink's global score ordering
def q_global_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (OntoEmma.py:962-963): global sort by score desc with explicit
    deterministic tiebreak — the alignment TSV sink's ordering contract,
    pinned by materializing the global rank. orderBy().limit() plans
    TakeOrderedAndProject (per-partition local top-k); the rank window
    then runs over 100 rows only."""
    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_orderkey").cast("bigint").alias("s_id"),
        F.col("o_totalprice").cast("double").alias("score"),
    )
    top = scored.orderBy(F.desc("score"), "s_id").limit(100)
    w = Window.orderBy(F.desc("score"), "s_id")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "rank", "s_id", F.round("score", 2).alias("score")
    )


SQL_GLOBAL_SORT_TOPK = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
       CAST(o_orderkey AS BIGINT) AS s_id,
       round(CAST(o_totalprice AS DOUBLE), 2) AS score
FROM orders
ORDER BY rank
LIMIT 100
"""


# 47. modh_greedy — G6 scale variant: greedy matching per component
def q_modh_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 distributed variant (strategy.py greedy_one_to_one_alignment):
    the deterministic greedy 1:1 matching over a PATH-GRAPH score
    fixture with strictly decreasing weights — one connected component
    whose greedy chain is as long as the graph, so every match depends
    on the one before it. The final matching has the closed form
    {(2k, 2k+1)}, which is what the SQL twin selects."""
    from ontoemma_spark.operators.strategy import greedy_one_to_one_alignment

    part = _t(spark, sf_dir, "part")
    ks = part.filter(F.col("p_partkey") < 12).select(
        F.col("p_partkey").cast("bigint").alias("k")
    )
    a_edges = ks.select(
        (F.col("k") * 2).alias("s_id"),
        (F.col("k") * 2 + 1).alias("t_id"),
        (F.lit(1.0) / (F.col("k") * 4 + 1)).alias("score"),
    )
    b_edges = ks.select(
        (F.col("k") * 2 + 2).alias("s_id"),
        (F.col("k") * 2 + 1).alias("t_id"),
        (F.lit(1.0) / (F.col("k") * 4 + 3)).alias("score"),
    )
    scores = a_edges.unionByName(b_edges).select(
        F.col("s_id").cast("string"), F.col("t_id").cast("string"), "score"
    )
    out = greedy_one_to_one_alignment(scores, threshold=0.0)
    return out.select(
        F.col("s_id").cast("bigint"),
        F.col("t_id").cast("bigint"),
        F.round("score", 6).alias("score"),
    )


SQL_MODH_GREEDY = """
SELECT CAST(p_partkey * 2 AS BIGINT) AS s_id,
       CAST(p_partkey * 2 + 1 AS BIGINT) AS t_id,
       round(1.0 / (p_partkey * 4 + 1), 6) AS score
FROM part WHERE p_partkey < 12
"""


# 48. ann_ivf_probe — the IVF cell-probe ANN scale path
ANN_IVF_K = 8
ANN_IVF_NPROBE = 2


def _ann_ivf_params():
    from ontoemma_spark.operators.ann import _hyperplane, deterministic_grid_centroids

    centroids = deterministic_grid_centroids(ANN_DIM, k=ANN_IVF_K)
    qvec = _hyperplane(ANN_DIM, seed=999)
    q_dists = [
        sum((qv - c) ** 2 for qv, c in zip(qvec, cent)) for cent in centroids
    ]
    probe = [
        cell for cell, _ in
        sorted(enumerate(q_dists), key=lambda x: (x[1], x[0]))[:ANN_IVF_NPROBE]
    ]
    return centroids, qvec, probe


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the second scale path next to LSH): every row is
    assigned to its nearest coarse-quantizer cell (native argmin over
    literalized centroids — zero shuffle), and exact cosine runs only
    inside the nprobe cells nearest the query. Deterministic
    data-independent centroids + query so the DuckDB twin replays the
    identical distance argmin."""
    from ontoemma_spark.operators.ann import assign_cells, cosine_scores_vs_query

    centroids, qvec, probe = _ann_ivf_params()
    emb = _t(spark, sf_dir, "embeddings")
    assigned = assign_cells(emb, centroids)
    cands = assigned.filter(F.col("cell").isin(probe))
    return cosine_scores_vs_query(cands, qvec).select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cos", 4).alias("cos"),
    )


def _sql_ann_ivf_probe() -> str:
    centroids, qvec, probe = _ann_ivf_params()
    lits = ["[" + ", ".join(repr(v) for v in c) + "]::DOUBLE[]" for c in centroids]
    # identical per-element (a-c)*(a-c) sum as the Spark zip_with/aggregate
    dist = lambda lit: (  # noqa: E731
        f"list_sum(list_transform(generate_series(1, {ANN_DIM}),"
        f" i -> (e[i] - ({lit})[i]) * (e[i] - ({lit})[i])))"
    )
    dlist = "[" + ", ".join(dist(lit) for lit in lits) + "]"
    qlit = "[" + ", ".join(repr(v) for v in qvec) + "]::DOUBLE[]"
    cells = ", ".join(str(c) for c in probe)
    # assigned is MATERIALIZED: DuckDB 1.0 runs the inlined form about
    # 4x slower at sf0.01, with the same rows
    return f"""
WITH assigned AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_indexof({dlist}, list_min({dlist})) - 1 AS cell
  FROM (SELECT vec_id, embedding FROM embeddings)
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(
         list_dot_product(e, {qlit}) /
         (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product({qlit}, {qlit}))),
         4) AS cos
FROM assigned WHERE cell IN ({cells})
"""


# 49. event_dedup — exactly-once ingest dedup of replayed events
def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once bridge: the events table with every
    5th event REPLAYED (unioned duplicate) goes through
    dedup_event_stream — per-type counts must equal the clean table's;
    this row pins them against SQL."""
    from ontoemma_spark.streaming.events import dedup_event_stream

    ev = _t(spark, sf_dir, "events")
    replayed = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    deduped = dedup_event_stream(replayed)
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


SQL_EVENT_DEDUP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


# 50. embedding_neardup — embedding-cosine near-duplicate pairs
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family member over the embedding column: the corpus is the
    embeddings table plus a SCALED replica of every 10th vector
    (scaling preserves cosine exactly, so each replica is a guaranteed
    near-dup of its source at cos = 1.0); the LSH-bucketed scale path
    (signature equi-join — same-bucket pairs only, never n²) must
    recover exactly those pairs, since random 64-d vectors essentially
    never reach cos ≥ 0.95. SQL twin replays the identical plane
    signatures and bucket join."""
    from ontoemma_spark.operators.ann import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    replicas = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(replicas)
    out = embedding_neardup_pairs(corpus, min_cos=0.95, num_planes=ANN_LSH_PLANES)
    return out.select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.round("cos", 4).alias("cos"),
    )


def _sql_embedding_neardup() -> str:
    from ontoemma_spark.operators.ann import _hyperplane

    planes = [_hyperplane(ANN_DIM, s) for s in range(ANN_LSH_PLANES)]
    lits = [
        "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]" for plane in planes
    ]
    sig = lambda vec: " || ".join(  # noqa: E731
        f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0 THEN '1' ELSE '0' END)"
        for lit in lits
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x * 1.5) AS e
  FROM embeddings WHERE vec_id % 10 = 0
),
sigs AS (SELECT vec_id, e, {sig("e")} AS s FROM corpus)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       round(
         list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
         4) AS cos
FROM sigs a JOIN sigs b ON a.s = b.s AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) /
      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.95
"""


# 51. context_enrich — the add_context_to_kb enrichment join
def q_context_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context enrichment (extract_training_data_from_umls.py:596-627):
    customer-derived entities joined with a supplier-derived context
    table on canonical name semantics — every 3rd entity has a context
    row (with one empty string to drop), the rest keep their original
    other_contexts. Output serializes the array for the driver hasher."""
    from ontoemma_spark.sources.umls import add_contexts

    c = _t(spark, sf_dir, "customer")
    ents = c.select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias(
            "research_entity_id"
        ),
        F.col("c_name").alias("canonical_name"),
        F.array(F.lit("orig")).alias("other_contexts"),
    )
    ctx = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_name").alias("canonical_name"),
        F.array(
            F.concat(F.lit("segment "), F.col("c_mktsegment")),
            F.lit(""),
            F.concat(F.lit("nation "), F.col("c_nationkey").cast("string")),
        ).alias("contexts"),
    )
    out = add_contexts(ents, ctx)
    return out.select(
        "research_entity_id",
        "canonical_name",
        F.array_join("other_contexts", "|").alias("contexts_joined"),
    )


SQL_CONTEXT_ENRICH = """
SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS research_entity_id,
       c_name AS canonical_name,
       CASE WHEN c_custkey % 3 = 0
            THEN 'segment ' || c_mktsegment || '|' || 'nation ' || CAST(c_nationkey AS VARCHAR)
            ELSE 'orig' END AS contexts_joined
FROM customer
"""


# 52. observe_counts — A9: zero-cost per-stage counters via df.observe
def q_observe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (the reference's count logging, OntoEmma.py:88,695,751 →
    pipeline.py's df.observe manifest counters): observation metrics
    collected DURING another action (no extra pass), returned as the
    result row. The observed numbers are the oracle-checked values, so
    this row pins the observe plumbing itself — input rows, surviving
    rows, and a value sum captured on the filtered stream."""
    from pyspark.sql import Observation

    ev = _t(spark, sf_dir, "events")
    obs_in = Observation("in")
    obs_kept = Observation("kept")
    observed = ev.observe(obs_in, F.count(F.lit(1)).alias("n_in"))
    kept = observed.filter(F.col("value") > 0.5).observe(
        obs_kept,
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    kept.write.format("noop").mode("overwrite").save()  # ONE action drives both
    row = {"n_in": obs_in.get["n_in"], **obs_kept.get}
    return spark.createDataFrame(
        [(int(row["n_in"]), int(row["n_kept"]), float(row["total_value"]))],
        "n_in bigint, n_kept bigint, total_value double",
    )


SQL_OBSERVE_COUNTS = """
SELECT (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_in,
       CAST(count(*) AS BIGINT) AS n_kept,
       round(sum(value), 6) AS total_value
FROM events WHERE value > 0.5
"""


# 53. umls_pipeline — §3.3 composition: concepts → collapse →
# definitions → cross-KB mappings, end-to-end over real RRF files
def q_umls_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UMLS training-data extraction flow composed end-to-end
    (extract_training_data_from_umls.py steps 1,2,4,5): a real
    MRCONSO.RRF (same serialization as umls_rrf_load) and a real
    MRDEF.RRF are scanned, concepts filtered (P6), collapsed to
    entities (A6/W4), definitions joined via AUI (J9/A7), and CUI
    mappings self-joined (J8/O3); the output is one summary row per
    entity with its cross-KB mapping degree. The oracle recomputes the
    whole chain relationally from part."""
    from ontoemma_spark.sources.umls import (
        collapse_concepts,
        extract_concepts,
        extract_definitions,
        extract_mappings,
    )

    rows = _fixture_parts(spark, sf_dir)
    sabs = ["GO", "HPO", "MSH", "ZZTEST"]
    ttys = ["PT", "SY", "MH"]
    conso, mrdef = [], []
    for r in rows:
        k, name = r["p_partkey"], r["p_name"]
        f = [""] * 18
        f[0] = f"C{k % 20:07d}"
        f[1] = "FRE" if k % 7 == 0 else "ENG"
        f[7] = f"A{k:07d}"
        f[11] = sabs[k % 4]
        f[12] = ttys[k % 3]
        f[13] = "NOCODE" if k % 11 == 0 else f"{k:05d}"
        f[14] = name
        conso.append("|".join(f) + "|")
        if k % 2 == 0:
            d = [""] * 8
            d[0] = f"C{k % 20:07d}"
            d[1] = f"A{k:07d}"
            d[5] = f"def of {name}"
            mrdef.append("|".join(d) + "|")
    fdir = _fixture_dir(sf_dir)
    conso_path = os.path.join(fdir, "MRCONSO_pipe.RRF")
    mrdef_path = os.path.join(fdir, "MRDEF_pipe.RRF")
    with open(conso_path, "w") as fh:
        fh.write("\n".join(conso) + "\n")
    with open(mrdef_path, "w") as fh:
        fh.write("\n".join(mrdef) + "\n")

    concepts = extract_concepts(spark, conso_path)
    entities = collapse_concepts(concepts)
    entities = extract_definitions(entities, spark, mrdef_path)
    mappings = extract_mappings(concepts)
    deg = (
        mappings.select(F.col("id1").alias("research_entity_id"))
        .union(mappings.select(F.col("id2").alias("research_entity_id")))
        .groupBy("research_entity_id")
        .agg(F.count(F.lit(1)).alias("n_mappings"))
    )
    return (
        entities.join(deg, "research_entity_id", "left")
        .select(
            "research_entity_id",
            "canonical_name",
            F.size("aliases").cast("bigint").alias("n_aliases"),
            "definition",
            F.coalesce("n_mappings", F.lit(0)).cast("bigint").alias("n_mappings"),
        )
    )


SQL_UMLS_PIPELINE = f"""
WITH atoms AS (
  SELECT p_partkey AS k,
         'C' || lpad(CAST(p_partkey % 20 AS VARCHAR), 7, '0') AS cui,
         'A' || lpad(CAST(p_partkey AS VARCHAR), 7, '0') AS aui,
         CASE p_partkey % 4 WHEN 0 THEN 'GO' WHEN 1 THEN 'HPO'
              WHEN 2 THEN 'MSH' END AS sab,
         lpad(CAST(p_partkey AS VARCHAR), 5, '0') AS code,
         p_name AS str
  FROM part
  WHERE p_partkey < {_FIXTURE_KEY_MAX}
    AND p_partkey % 7 <> 0 AND p_partkey % 4 <> 3 AND p_partkey % 11 <> 0
), ents AS (
  -- one atom per (sab, code) in this fixture → collapse is identity
  SELECT sab || ':' || code AS research_entity_id, k, cui, aui, sab, str
  FROM atoms
), mappings AS (
  SELECT a.sab || ':' || a.code AS id1, b.sab || ':' || b.code AS id2
  FROM atoms a JOIN atoms b ON a.cui = b.cui AND a.sab < b.sab
), deg AS (
  SELECT research_entity_id, CAST(count(*) AS BIGINT) AS n_mappings FROM (
    SELECT id1 AS research_entity_id FROM mappings
    UNION ALL
    SELECT id2 AS research_entity_id FROM mappings
  ) GROUP BY 1
)
SELECT e.research_entity_id,
       e.str AS canonical_name,
       CAST(1 AS BIGINT) AS n_aliases,
       CASE WHEN e.k % 2 = 0 THEN 'def of ' || e.str ELSE '' END AS definition,
       COALESCE(d.n_mappings, 0) AS n_mappings
FROM ents e LEFT JOIN deg d USING (research_entity_id)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, callable] = {
    # ------------------------------------------------------------------
    # Rotation note (round 5): the external correctness driver checks the
    # FIRST 50 entries of this dict per round.  Keep never- or
    # least-recently-driver-verified queries at the FRONT: new queries go
    # first, then queries whose last green driver row is oldest, then the
    # rest (those stay pinned by tests/test_entry_oracle.py, which runs
    # the identical DuckDB comparison over ALL entries at sf0.01).
    # Front block as of r5: the new r5 queries (kg_asof,
    # interval_points, scc_components, kg_diff, entity_properties,
    # degree_histogram, version_intervals, neighborhood_sizes,
    # harmonic_centrality, bow_tie, boilerplate_removal, adamic_adar,
    # triple_fusion, functional_resolve, hits_scores,
    # label_communities, triple_canonicalize, kg_upsert, hll_distinct,
    # triangle_stats, k_core, random_walks, taxonomy_closure,
    # bloom_gated_dedup,
    # kg_edge_weights, entity_pmi, anchor_profile, bloom_url_seen,
    # lsh_hot_band_cap) first,
    # then the three r4 reds whose oracle twins were CAST-fixed this
    # round (token_budget, paragraph_dedup, web_dedup_pass — pinned
    # right after the r5 block, INSIDE the first-50 window, so the
    # driver re-verifies the fix; they had drifted to 62-64 as new
    # queries landed),
    # then the 36 queries the r4 driver did not reach (dedup_exact ..
    # mesh_load, last driver-green r1-r3; the ones past position 50
    # stay pinned by tests/test_entry_oracle.py), then the 47
    # r4-exact-greens.
    # ------------------------------------------------------------------
    "kg_asof": q_kg_asof,
    "interval_points": q_interval_points,
    "scc_components": q_scc_components,
    "kg_diff": q_kg_diff,
    "entity_properties": q_entity_properties,
    "degree_histogram": q_degree_histogram,
    "version_intervals": q_version_intervals,
    "neighborhood_sizes": q_neighborhood_sizes,
    "harmonic_centrality": q_harmonic_centrality,
    "bow_tie": q_bow_tie,
    "boilerplate_removal": q_boilerplate_removal,
    "adamic_adar": q_adamic_adar,
    "triple_fusion": q_triple_fusion,
    "functional_resolve": q_functional_resolve,
    "hits_scores": q_hits_scores,
    "label_communities": q_label_communities,
    "triple_canonicalize": q_triple_canonicalize,
    "kg_upsert": q_kg_upsert,
    "hll_distinct": q_hll_distinct,
    "triangle_stats": q_triangle_stats,
    "k_core": q_k_core,
    "random_walks": q_random_walks,
    "taxonomy_closure": q_taxonomy_closure,
    "bloom_gated_dedup": q_bloom_gated_dedup,
    "kg_edge_weights": q_kg_edge_weights,
    "entity_pmi": q_entity_pmi,
    "anchor_profile": q_anchor_profile,
    "bloom_url_seen": q_bloom_url_seen,
    "lsh_hot_band_cap": q_lsh_hot_band_cap,
    # the three r4 reds whose oracle twins were CAST-fixed this round —
    # kept INSIDE the first-50 driver window so CORRECTNESS_r5 records
    # the flip to green (they drifted to 62-64 as new queries landed)
    "token_budget": q_token_budget,
    "paragraph_dedup": q_paragraph_dedup,
    "web_dedup_pass": q_web_dedup_pass,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lsh_dup_candidates": q_lsh_dup_candidates,
    "dedup_resolve": q_dedup_resolve,
    "simhash": q_simhash,
    "ngram_jaccard_dups": q_ngram_jaccard_dups,
    "ann_cosine": q_ann_cosine,
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "repetition_scores": q_repetition_scores,
    "source_rollup": q_source_rollup,
    "decontaminate": q_decontaminate,
    "redact_pii": q_redact_pii,
    "mixture_sample": q_mixture_sample,
    "pack_sequences": q_pack_sequences,
    "curate_corpus": q_curate_corpus,
    "token_counts": q_token_counts,
    "fingerprints": q_fingerprints,
    "media_meta": q_media_meta,
    "triple_extract": q_triple_extract,
    "eval_at_k": q_eval_at_k,
    "train_split": q_train_split,
    "tfidf_cosine": q_tfidf_cosine,
    "kg_pipeline": q_kg_pipeline,
    "nn_scores": q_nn_scores,
    "obo_load": q_obo_load,
    "owl_load": q_owl_load,
    "alignment_roundtrip": q_alignment_roundtrip,
    "alignment_rdf_roundtrip": q_alignment_rdf_roundtrip,
    "neighborhood_sim": q_neighborhood_sim,
    "sessionization": q_sessionization,
    "ann_lsh_bucket": q_ann_lsh_bucket,
    "event_window_counts": q_event_window_counts,
    "kb_validate_filter": q_kb_validate_filter,
    "kb_json_roundtrip": q_kb_json_roundtrip,
    "mesh_load": q_mesh_load,
    "substring_removal": q_substring_removal,
    "host_split": q_host_split,
    "frame_sample": q_frame_sample,
    "incremental_dedup": q_incremental_dedup,
    "curate_stage0": q_curate_stage0,
    "chunk_documents": q_chunk_documents,
    "line_stats": q_line_stats,
    "pagerank": q_pagerank,
    "key_skew": q_key_skew,
    "normalized_dedup": q_normalized_dedup,
    "latest_snapshot": q_latest_snapshot,
    "lm_filter": q_lm_filter,
    "url_blocklist": q_url_blocklist,
    "winnowing": q_winnowing,
    "substring_dup_pairs": q_substring_dup_pairs,
    "url_dedup": q_url_dedup,
    "umls_rrf_load": q_umls_rrf_load,
    "remaining_entities": q_remaining_entities,
    "global_sort_topk": q_global_sort_topk,
    "modh_greedy": q_modh_greedy,
    "ann_ivf_probe": q_ann_ivf_probe,
    "event_dedup": q_event_dedup,
    "embedding_neardup": q_embedding_neardup,
    "context_enrich": q_context_enrich,
    "observe_counts": q_observe_counts,
    "umls_pipeline": q_umls_pipeline,
    "dbpedia_load": q_dbpedia_load,
    "training_jsonlines_roundtrip": q_training_jsonlines_roundtrip,
    "relation_classes": q_relation_classes,
    "umls_definitions": q_umls_definitions,
    "pair_features": q_pair_features,
    "lr_scores": q_lr_scores,
    "edge_validate": q_edge_validate,
    "kb_normalize": q_kb_normalize,
    "token_idf": q_token_idf,
    "blocking_candidates": q_blocking_candidates,
    "best_match": q_best_match,
    "string_equiv": q_string_equiv,
    "symmetric_closure": q_symmetric_closure,
    "merge_entities": q_merge_entities,
    "prf1_eval": q_prf1_eval,
    "missed_gold": q_missed_gold,
    "hard_negatives": q_hard_negatives,
    "concept_collapse": q_concept_collapse,
    "cui_selfjoin": q_cui_selfjoin,
    "bfs_2hop": q_bfs_2hop,
    "connected_components": q_connected_components,
}

ORACLES: dict[str, str] = {
    "kg_asof": SQL_KG_ASOF,
    "version_intervals": SQL_VERSION_INTERVALS,
    "neighborhood_sizes": SQL_NEIGHBORHOOD_SIZES,
    "harmonic_centrality": SQL_HARMONIC_CENTRALITY,
    "bow_tie": SQL_BOW_TIE,
    "boilerplate_removal": SQL_BOILERPLATE_REMOVAL,
    "kg_diff": SQL_KG_DIFF,
    "entity_properties": SQL_ENTITY_PROPERTIES,
    "degree_histogram": SQL_DEGREE_HISTOGRAM,
    "interval_points": SQL_INTERVAL_POINTS,
    "scc_components": SQL_SCC_COMPONENTS,
    "adamic_adar": SQL_ADAMIC_ADAR,
    "triple_fusion": SQL_TRIPLE_FUSION,
    "functional_resolve": SQL_FUNCTIONAL_RESOLVE,
    "hits_scores": SQL_HITS_SCORES,
    "label_communities": SQL_LABEL_COMMUNITIES,
    "triple_canonicalize": SQL_TRIPLE_CANONICALIZE,
    "kg_upsert": SQL_KG_UPSERT,
    "hll_distinct": SQL_HLL_DISTINCT,
    "triangle_stats": SQL_TRIANGLE_STATS,
    "k_core": SQL_K_CORE,
    "random_walks": SQL_RANDOM_WALKS,
    "taxonomy_closure": SQL_TAXONOMY_CLOSURE,
    "bloom_gated_dedup": SQL_BLOOM_GATED_DEDUP,
    "kg_edge_weights": SQL_KG_EDGE_WEIGHTS,
    "entity_pmi": SQL_ENTITY_PMI,
    "anchor_profile": SQL_ANCHOR_PROFILE,
    "bloom_url_seen": SQL_BLOOM_URL_SEEN,
    "lsh_hot_band_cap": SQL_LSH_HOT_BAND_CAP,
    "kb_normalize": SQL_KB_NORMALIZE,
    "token_idf": SQL_TOKEN_IDF,
    "blocking_candidates": SQL_BLOCKING_CANDIDATES,
    "best_match": SQL_BEST_MATCH,
    "string_equiv": SQL_STRING_EQUIV,
    "symmetric_closure": SQL_SYMMETRIC_CLOSURE,
    "merge_entities": SQL_MERGE_ENTITIES,
    "prf1_eval": SQL_PRF1_EVAL,
    "missed_gold": SQL_MISSED_GOLD,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "concept_collapse": SQL_CONCEPT_COLLAPSE,
    "cui_selfjoin": SQL_CUI_SELFJOIN,
    "bfs_2hop": SQL_BFS_2HOP,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "lsh_dup_candidates": SQL_LSH_DUP_CANDIDATES,
    "dedup_resolve": SQL_DEDUP_RESOLVE,
    "simhash": SQL_SIMHASH,
    "ngram_jaccard_dups": SQL_NGRAM_JACCARD_DUPS,
    "substring_removal": SQL_SUBSTRING_REMOVAL,
    "host_split": SQL_HOST_SPLIT,
    "frame_sample": SQL_FRAME_SAMPLE,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "curate_stage0": SQL_CURATE_STAGE0,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "line_stats": SQL_LINE_STATS,
    "pagerank": SQL_PAGERANK,
    "key_skew": SQL_KEY_SKEW,
    "token_budget": SQL_TOKEN_BUDGET,
    "normalized_dedup": SQL_NORMALIZED_DEDUP,
    "latest_snapshot": SQL_LATEST_SNAPSHOT,
    "lm_filter": SQL_LM_FILTER,
    "url_blocklist": SQL_URL_BLOCKLIST,
    "winnowing": SQL_WINNOWING,
    "substring_dup_pairs": SQL_SUBSTRING_DUP_PAIRS,
    "url_dedup": SQL_URL_DEDUP,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "web_dedup_pass": SQL_WEB_DEDUP_PASS,
    "ann_cosine": SQL_ANN_COSINE,
    "lang_id": SQL_LANG_ID,
    "quality_scores": SQL_QUALITY_SCORES,
    "repetition_scores": SQL_REPETITION_SCORES,
    "source_rollup": SQL_SOURCE_ROLLUP,
    "decontaminate": SQL_DECONTAMINATE,
    "redact_pii": SQL_REDACT_PII,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "curate_corpus": SQL_CURATE_CORPUS,
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprints": SQL_FINGERPRINTS,
    "media_meta": SQL_MEDIA_META,
    "triple_extract": SQL_TRIPLE_EXTRACT,
    "eval_at_k": SQL_EVAL_AT_K,
    "train_split": SQL_TRAIN_SPLIT,
    "tfidf_cosine": SQL_TFIDF_COSINE,
    "kg_pipeline": SQL_KG_PIPELINE,
    "nn_scores": _sql_nn_scores(),
    "obo_load": SQL_OBO_LOAD,
    "owl_load": SQL_OWL_LOAD,
    "alignment_roundtrip": SQL_ALIGNMENT_ROUNDTRIP,
    "alignment_rdf_roundtrip": SQL_ALIGNMENT_RDF_ROUNDTRIP,
    "neighborhood_sim": SQL_NEIGHBORHOOD_SIM,
    "sessionization": SQL_SESSIONIZATION,
    "ann_lsh_bucket": _sql_ann_lsh_bucket(),
    "event_window_counts": SQL_EVENT_WINDOW_COUNTS,
    "kb_validate_filter": SQL_KB_VALIDATE_FILTER,
    "kb_json_roundtrip": SQL_KB_JSON_ROUNDTRIP,
    "mesh_load": SQL_MESH_LOAD,
    "dbpedia_load": SQL_DBPEDIA_LOAD,
    "training_jsonlines_roundtrip": SQL_TRAINING_JSONLINES_ROUNDTRIP,
    "relation_classes": SQL_RELATION_CLASSES,
    "umls_definitions": SQL_UMLS_DEFINITIONS,
    "pair_features": SQL_PAIR_FEATURES,
    "lr_scores": _sql_lr_scores(),
    "edge_validate": SQL_EDGE_VALIDATE,
    "umls_rrf_load": SQL_UMLS_RRF_LOAD,
    "remaining_entities": SQL_REMAINING_ENTITIES,
    "global_sort_topk": SQL_GLOBAL_SORT_TOPK,
    "modh_greedy": SQL_MODH_GREEDY,
    "ann_ivf_probe": _sql_ann_ivf_probe(),
    "event_dedup": SQL_EVENT_DEDUP,
    "embedding_neardup": _sql_embedding_neardup(),
    "context_enrich": SQL_CONTEXT_ENRICH,
    "observe_counts": SQL_OBSERVE_COUNTS,
    "umls_pipeline": SQL_UMLS_PIPELINE,
}
