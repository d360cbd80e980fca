"""candidate_pairs_broadcast_index must produce EXACTLY the same rows as
the shuffle-join candidate_pairs (scores bit-identical, ranks equal);
the n-gram jaccard router must return the same rows on every path. The
distributed side of each size gate is reached with the broadcast_off
fixture (autoBroadcastJoinThreshold=-1)."""

from ontoemma_spark.datagen import synthetic_kb
from ontoemma_spark.operators.blocking import (
    candidate_pairs,
    candidate_pairs_broadcast_index,
    entity_tokens,
)


def _rows(df):
    return {
        (r["s_id"], r["t_id"]): (r["cand_score"], r["rank"]) for r in df.collect()
    }


def test_broadcast_index_equals_shuffle_plan(spark):
    s_ents, _ = synthetic_kb(spark, "SRC", n_entities=50, id_offset=0)
    t_ents, _ = synthetic_kb(spark, "TGT", n_entities=40, id_offset=15)
    s_tok, t_tok = entity_tokens(s_ents), entity_tokens(t_ents)
    a = _rows(candidate_pairs(s_tok, t_tok, 50, 40, top_k=7))
    b = _rows(candidate_pairs_broadcast_index(s_tok, t_tok, 50, 40, top_k=7))
    assert set(a) == set(b)
    for k in a:
        assert a[k][1] == b[k][1], k  # ranks equal
        assert abs(a[k][0] - b[k][0]) < 1e-12, k  # scores equal


def test_broadcast_index_no_wide_shuffle(spark):
    s_ents, _ = synthetic_kb(spark, "SRC", n_entities=20)
    t_ents, _ = synthetic_kb(spark, "TGT", n_entities=20, id_offset=5)
    df = candidate_pairs_broadcast_index(
        entity_tokens(s_ents), entity_tokens(t_ents), 20, 20, top_k=5
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # no join node: the pair table is never materialized relationally
    assert "Join" not in plan.split("FlatMapGroupsInPandas")[0] if "FlatMapGroups" in plan else True
    assert df.count() > 0


def test_broadcast_jaccard_equals_relational(spark):
    from ontoemma_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rel = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(word_shingles(docs, w=2), min_jaccard=0.3).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.3).collect()
    }
    assert set(rel) == set(fast)
    for k in rel:
        assert abs(rel[k] - fast[k]) < 1e-12, k


def test_broadcast_jaccard_guard_falls_back(spark, broadcast_off):
    """When the postings index does not fit on the driver the n-gram
    router must refuse to collect and route through a distributed plan
    — output identical."""
    from ontoemma_spark.operators.dedup import ngram_jaccard_pairs_auto

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.3).collect()
    }
    with broadcast_off():
        guarded = ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.3)
        plan = guarded._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan  # fell back to the relational plan
        assert {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9) for r in guarded.collect()
        } == fast


def test_auto_jaccard_all_regimes_identical(spark, broadcast_off):
    """ngram_jaccard_pairs_auto must return the same rows whichever
    side of its size gate it takes."""
    from ontoemma_spark.operators.dedup import ngram_jaccard_pairs_auto

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(df):
        return {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9) for r in df.collect()}

    kernel = rows(ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.3))
    with broadcast_off():
        relational = rows(ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.3))
    assert kernel == relational
    assert len(kernel) > 0


def test_broadcast_index_guard_falls_back(spark, broadcast_off):
    """candidate_pairs_broadcast_index must fall back to the relational
    candidate_pairs plan with identical output when the target index does
    not fit on the driver — and match its own fast path."""
    s_ents, _ = synthetic_kb(spark, "SRC", n_entities=30, id_offset=0)
    t_ents, _ = synthetic_kb(spark, "TGT", n_entities=25, id_offset=10)
    s_tok, t_tok = entity_tokens(s_ents), entity_tokens(t_ents)
    fast = _rows(candidate_pairs_broadcast_index(s_tok, t_tok, 30, 25, top_k=5))
    with broadcast_off():
        guarded = candidate_pairs_broadcast_index(s_tok, t_tok, 30, 25, top_k=5)
        plan = guarded._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan
        assert _rows(guarded) == _rows(candidate_pairs(s_tok, t_tok, 30, 25, top_k=5))
        assert _rows(guarded) == fast


def test_r5_review_dedup_guards(spark, broadcast_off):
    """Round-5 review regressions: (1) the broadcast jaccard kernel
    skips docs shorter than w instead of KeyError; (2) the auto router
    sends t=0 to the relational plan above its gate; (3) band_hashes and
    the fused LSH kernel refuse indivisible num_hashes;
    (4) exact_duplicates excludes null-text docs instead of collapsing
    them into one phantom group; (5) bloom_gated_dedup keeps null-key
    rows (is_dup false) instead of dropping them from both branches."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.dedup import (
        band_hashes,
        bloom_gated_dedup,
        exact_duplicates,
        lsh_jaccard_pairs_broadcast,
        minhash_signatures,
        ngram_jaccard_pairs_auto,
        shingle_array,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x"), (4, None)],
        "doc_id bigint, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"])
             for r in ngram_jaccard_pairs_auto(docs, w=3).collect()}
    assert pairs == {(1, 2)}  # short/null docs skipped, no KeyError

    with broadcast_off():
        zero = {(r["doc_a"], r["doc_b"])
                for r in ngram_jaccard_pairs_auto(docs, min_jaccard=0.0).collect()}
    assert zero == {(1, 2)}  # t=0 routed to the relational plan

    sigs = minhash_signatures(word_shingles(docs.filter("doc_id = 1")), num_hashes=8)
    with _pytest.raises(ValueError, match="not divisible"):
        band_hashes(sigs, num_hashes=8, bands=3)
    sh = docs.select("doc_id", F.array_distinct(shingle_array("text")).alias("sh"))
    with _pytest.raises(ValueError, match="not divisible"):
        lsh_jaccard_pairs_broadcast(sh, sigs, num_hashes=8, bands=3)

    dups = exact_duplicates(docs).collect()
    assert sorted((r["rep_doc_id"], r["dup_count"]) for r in dups) == [
        (1, 2), (3, 1)]  # null-text doc 4 excluded

    corpus = spark.createDataFrame([("k1",)], "key string")
    batch = spark.createDataFrame(
        [(10, "k1"), (11, "k2"), (12, None)], "doc_id bigint, key string")
    out = {r["doc_id"]: r["is_dup"]
           for r in bloom_gated_dedup(batch, corpus).collect()}
    assert out == {10: True, 11: False, 12: False}  # null key kept


def test_broadcast_index_class_dedup_with_ties(spark):
    """r6 class-dedup probe: entities with IDENTICAL token sets (the
    memo/class path) and score ties across classes must rank exactly as
    the relational plan — tied scores break by t_id ascending, merged
    across classes."""
    # 6 targets in 3 classes: {a,b} twice, {a} twice, {b,c} twice;
    # 4 sources, two sharing a token set (memo hit)
    t_rows = [
        (101, "a"), (101, "b"), (104, "a"), (104, "b"),
        (102, "a"), (105, "a"),
        (103, "b"), (103, "c"), (106, "b"), (106, "c"),
    ]
    s_rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),   # identical set to s=1 → memoized result
        (3, "b"), (3, "c"),
        (4, "a"),
    ]
    s_tok = spark.createDataFrame(s_rows, "entity_id bigint, token string")
    t_tok = spark.createDataFrame(t_rows, "entity_id bigint, token string")
    a = _rows(candidate_pairs(s_tok, t_tok, 4, 6, idf_limit=0.0, top_k=3))
    b = _rows(
        candidate_pairs_broadcast_index(s_tok, t_tok, 4, 6, idf_limit=0.0, top_k=3)
    )
    assert set(a) == set(b)
    for k in a:
        assert a[k][1] == b[k][1], k
        assert abs(a[k][0] - b[k][0]) < 1e-12, k


def test_auto_jaccard_threshold_zero_both_sides(spark, broadcast_off):
    """min_jaccard=0 on both sides of the n-gram gate: the kernel below
    it and the relational plan above it both return every overlapping
    pair, identical to ngram_jaccard_pairs."""
    from ontoemma_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "c d e f g"), (4, "x y z"),
         (5, "q r s"), (6, "a b"), (7, "s t"), (8, None)],
        "doc_id bigint, text string",
    )

    def rows(df):
        return {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 9) for r in df.collect()}

    rel = rows(ngram_jaccard_pairs(word_shingles(docs, w=2), min_jaccard=0.0))
    fast = rows(ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.0))
    with broadcast_off():
        slow_df = ngram_jaccard_pairs_auto(docs, w=2, min_jaccard=0.0)
        assert "MapInPandas" not in slow_df._jdf.queryExecution().optimizedPlan().toString()
        slow = rows(slow_df)
    assert slow == rel == fast
    assert len(rel) > 0


def test_broadcast_index_memo_bound_overflow(spark, monkeypatch):
    """The probe's per-task memo is bounded (PROBE_MEMO_ENTRIES): with a
    bound of 2 every task's distinct source token sets overflow it many
    times, interleaved with repeats that hit it, and the candidates stay
    identical to the relational plan's."""
    from ontoemma_spark.operators import blocking

    monkeypatch.setattr(blocking, "PROBE_MEMO_ENTRIES", 2)
    vocab = [f"w{i}" for i in range(12)]
    t_rows = [(100 + t, vocab[(t * 5 + j) % 12]) for t in range(20) for j in range(3)]
    # 60 sources over 12 distinct token sets, so sets repeat within a task
    s_rows = [(s, vocab[(s % 15 + j * 4) % 12]) for s in range(60) for j in range(2)]
    s_tok = spark.createDataFrame(s_rows, "entity_id bigint, token string").distinct()
    t_tok = spark.createDataFrame(t_rows, "entity_id bigint, token string").distinct()
    a = _rows(candidate_pairs(s_tok, t_tok, 60, 20, idf_limit=0.0, top_k=4))
    b = _rows(candidate_pairs_broadcast_index(s_tok, t_tok, 60, 20, idf_limit=0.0, top_k=4))
    assert len(a) > 60
    assert set(a) == set(b)
    for k in a:
        assert a[k][1] == b[k][1], k
        assert abs(a[k][0] - b[k][0]) < 1e-12, k
