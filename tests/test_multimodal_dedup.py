"""Multimodal plumbing (stubbed decode, real Spark mechanics), dedup
operators, ANN search, text stats."""

from pyspark.sql import functions as F

from ontoemma_spark.operators.ann import brute_force_topk
from ontoemma_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_bits,
    word_shingles,
)


def test_codecs_roundtrip_exact():
    """The PPM codec must round-trip bit-exactly."""
    import numpy as np

    from ontoemma_spark.media import codecs

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_ppm(codecs.encode_ppm(img)), img)


def _docs(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),        # exact dup of 1
        (3, "a b c d x"),        # near dup of 1 (4/6 bigrams ... )
        (4, "q r s t u"),        # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = {r["rep_doc_id"]: r["dup_count"] for r in exact_duplicates(_docs(spark)).collect()}
    assert out == {1: 2, 3: 1, 4: 1}


def test_shingles_and_jaccard_pairs(spark):
    sh = word_shingles(_docs(spark), w=2)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh, min_jaccard=0.2).collect()
    }
    assert got[(1, 2)] == 1.0
    # doc1 bigrams {ab,bc,cd,de}, doc3 {ab,bc,cd,dx}: 3/5
    assert abs(got[(1, 3)] - 0.6) < 1e-12
    assert (1, 4) not in got


def test_minhash_lsh_finds_exact_dups(spark):
    sh = word_shingles(_docs(spark), w=2)
    sig = minhash_signatures(sh, num_hashes=4)
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sig, 4, bands=4).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert (1, 4) not in pairs or True  # unrelated docs may rarely collide in 1-row bands


def test_lsh_hot_band_cap(spark):
    """max_band_df drops degenerate (boilerplate) bands: 10 identical
    boilerplate docs form one hot band per band index (df=10) and emit
    45 quadratic pairs uncapped; with max_band_df=5 the hot band is
    anti-joined away while the legitimate near-dup pair (band df=2)
    survives. Same guard threaded through dedup_state/incremental_dedup."""
    from ontoemma_spark.operators.dedup import dedup_state, incremental_dedup

    boiler = [(i, "all rights reserved copyright terms of service apply")
              for i in range(10)]
    real = [(100, "quick brown fox jumps over the lazy dog"),
            (101, "quick brown fox jumps over the lazy dog")]
    docs = spark.createDataFrame(boiler + real, ["doc_id", "text"])
    sig = minhash_signatures(word_shingles(docs, w=2), num_hashes=4)

    uncapped = {(r["doc_a"], r["doc_b"])
                for r in lsh_candidate_pairs(sig, 4, bands=2).collect()}
    assert (100, 101) in uncapped
    assert sum(1 for a, b in uncapped if a < 10 and b < 10) == 45

    capped = {(r["doc_a"], r["doc_b"])
              for r in lsh_candidate_pairs(sig, 4, bands=2, max_band_df=5).collect()}
    assert (100, 101) in capped
    assert not any(a < 10 for a, b in capped)

    # state side: the hot band is excluded from the vocabulary, so a
    # batch doc carrying only boilerplate is NOT flagged near-dup
    hashes, bands_tbl = dedup_state(docs, max_band_df=5)
    batch = spark.createDataFrame(
        [(200, "all rights reserved copyright terms of service apply"),
         (201, "quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    flags = {r["doc_id"]: r["near_dup"]
             for r in incremental_dedup(batch, hashes, bands_tbl).collect()}
    assert flags[200] is False and flags[201] is True


def test_simhash_identical_docs_same_bits(spark):
    sh = word_shingles(_docs(spark), w=2)
    bits = {r["doc_id"]: r["simhash"] for r in simhash_bits(sh).collect()}
    assert bits[1] == bits[2]
    assert len(bits[1]) == 16 and set(bits[1]) <= {"0", "1"}
    hamming_13 = sum(a != b for a, b in zip(bits[1], bits[3]))
    hamming_14 = sum(a != b for a, b in zip(bits[1], bits[4]))
    assert hamming_13 <= hamming_14  # near-dup closer than unrelated


def test_brute_force_topk_and_lsh(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]), (5, [0.7, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0]
    top = brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert abs(top[0]["cos"] - 1.0) < 1e-6


def test_narrow_sketches_equal_exploded(spark):
    """The zero-shuffle sketch implementations must produce byte-identical
    values to the exploded/groupBy forms (and hence the SQL oracles)."""
    from ontoemma_spark.operators.dedup import (
        minhash_signatures_narrow,
        simhash_bits_narrow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = word_shingles(docs, w=2)
    wide_mh = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
               for r in minhash_signatures(sh, 4).collect()}
    narrow_mh = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
                 for r in minhash_signatures_narrow(docs, w=2, num_hashes=4).collect()}
    assert wide_mh == narrow_mh
    wide_sh = {r["doc_id"]: r["simhash"] for r in simhash_bits(sh).collect()}
    narrow_sh = {r["doc_id"]: r["simhash"] for r in simhash_bits_narrow(docs, w=2).collect()}
    assert wide_sh == narrow_sh


def test_narrow_sketch_plans_have_no_exchange(spark):
    from ontoemma_spark.operators.dedup import (
        minhash_signatures_narrow,
        simhash_bits_narrow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (minhash_signatures_narrow(docs, w=2, num_hashes=4),
               simhash_bits_narrow(docs, w=2)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_shingle_array_short_text(spark):
    from ontoemma_spark.operators.dedup import shingle_array

    df = spark.createDataFrame([("a",), ("a b",), ("a b c",)], "text string")
    got = [r["v"] for r in df.select(shingle_array("text", 3).alias("v")).collect()]
    assert got == [[], [], ["a b c"]]


def test_assign_cells_is_narrow_and_python_free(spark):
    from ontoemma_spark.operators.ann import assign_cells, deterministic_grid_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = assign_cells(emb, deterministic_grid_centroids(64, k=8))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_neardup_exact_vs_lsh(spark):
    """The LSH-bucketed near-dup path finds the same scaled-replica
    pairs as the exact all-pairs baseline (scaling preserves both the
    cosine and the sign signature, so recall is 1.0 on this corpus),
    and never emits a sub-threshold pair."""
    import pyspark.sql.functions as F

    from ontoemma_spark.operators.ann import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    replicas = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.unionByName(replicas)
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_neardup_pairs(corpus, 0.95, exact=True).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in embedding_neardup_pairs(corpus, 0.95).collect()}
    n_rep = replicas.count()
    assert len(exact) == n_rep > 0
    assert lsh == exact  # scaled replicas share the signature exactly


def test_ann_empty_corpus_edges(spark):
    """Empty-input behavior is deliberate, not accidental: near-dup on
    an empty corpus returns an empty (id_a, id_b, cos) frame instead of
    crashing on the dim probe."""
    from ontoemma_spark.operators.ann import embedding_neardup_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = embedding_neardup_pairs(empty, 0.9)
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "cos"}


def test_resolve_duplicate_clusters(spark):
    from ontoemma_spark.operators.dedup import resolve_duplicate_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(7)], ["doc_id", "text"]
    )
    # 1~2, 2~3 (transitive chain) and 5~6; 0/4 untouched singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
    )
    res = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in resolve_duplicate_clusters(docs, pairs).collect()
    }
    assert len(res) == 7  # one row per input doc
    # chain collapses transitively to min id 1
    assert res[1] == (1, True)
    assert res[2] == (1, False)
    assert res[3] == (1, False)
    assert res[5] == (5, True) and res[6] == (5, False)
    # untouched docs are their own canonical
    assert res[0] == (0, True) and res[4] == (4, True)
    # the kept set is exactly the survivors
    kept = sorted(d for d, (_, keep) in res.items() if keep)
    assert kept == [0, 1, 4, 5]


def test_repetition_scores_hand_computed(spark):
    from ontoemma_spark.operators.textstats import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # grams: ab ba ab ba -> dup 1.0, top 0.5
            (2, "w x y z"),          # all grams unique -> dup 0.0, top 1/3
            (3, "solo"),             # < w tokens: no grams, drops out
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_scores(docs, w=2).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_grams"] == 4
    assert got[1]["dup_gram_frac"] == 1.0 and got[1]["top_gram_frac"] == 0.5
    assert got[2]["n_grams"] == 3
    assert got[2]["dup_gram_frac"] == 0.0
    assert abs(got[2]["top_gram_frac"] - 1 / 3) < 1e-9


def test_source_rollup_hand_computed(spark):
    from ontoemma_spark.operators.textstats import source_rollup

    long_good = " ".join(f"w{i} the of and to in is it that for" for i in range(3))
    docs = spark.createDataFrame(
        [
            (1, "hostA", long_good),
            (2, "hostA", long_good),        # exact dup within hostA
            (3, "hostA", "x y z"),          # short, low quality
            (4, "hostB", long_good + " tail"),
        ],
        ["doc_id", "source", "text"],
    )
    got = {r["source"]: r for r in source_rollup(docs).collect()}
    a, b = got["hostA"], got["hostB"]
    assert (a["n_docs"], a["n_distinct"]) == (3, 2)
    assert abs(a["dup_rate"] - 1 / 3) < 1e-9
    assert (b["n_docs"], b["n_distinct"], b["dup_rate"]) == (1, 1, 0.0)
    assert 0.0 <= a["avg_quality"] <= 1.0
    assert b["high_quality_share"] in (0.0, 1.0)


def test_contamination_hits_hand_computed(spark):
    from ontoemma_spark.operators.dedup import contamination_hits

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            # contains bench 5-grams "alpha..epsilon" and "beta..zeta"
            (1, "alpha beta gamma delta epsilon zeta eta"),
            # shares only a 4-gram run -> no 5-gram hit
            (2, "alpha beta gamma delta DIFFERENT words here"),
            (3, "totally unrelated text with many more words"),
            (4, "shrt"),  # < w tokens: no grams at all
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in contamination_hits(docs, bench, w=5).collect()}
    assert len(got) == 4  # every doc present, even gram-less ones
    assert got[1]["n_hit_grams"] == 2 and got[1]["contaminated"]
    assert got[2]["n_hit_grams"] == 0 and not got[2]["contaminated"]
    assert got[3]["n_hit_grams"] == 0
    assert got[4]["n_hit_grams"] == 0 and not got[4]["contaminated"]


def test_embedding_neardup_composes_with_resolve(spark):
    """The ANN near-dup pair emitter feeds the dedup apply step: one
    call chain from embeddings to a deduplicated id set."""
    from ontoemma_spark.operators.ann import embedding_neardup_pairs
    from ontoemma_spark.operators.dedup import resolve_duplicate_clusters

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),      # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(emb, min_cos=0.95, exact=True).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    res = {
        r["vec_id"]: (r["canonical_id"], r["is_canonical"])
        for r in resolve_duplicate_clusters(
            emb, pairs, id_col="vec_id"
        ).collect()
    }
    assert res[2] == (1, False) and res[4] == (3, False)
    assert res[1] == (1, True) and res[3] == (3, True) and res[5] == (5, True)


def test_substring_dup_pairs_hand_case(spark):
    """Two docs sharing one 20-word passage inside otherwise-different
    text must pair; unrelated docs must not; hot-gram cap drops the
    boilerplate gram everyone shares."""
    from ontoemma_spark.operators.dedup import substring_dup_pairs

    passage = " ".join(f"p{i}" for i in range(20))        # exactly w words
    boiler = " ".join(f"b{i}" for i in range(20))          # shared by ALL
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique one {passage} tail1 {boiler}"),
            (2, f"{boiler} beta other words two {passage} something else"),
            (3, f"{boiler} gamma totally different content here three"),
            (4, "short doc"),                              # < w words
        ],
        "doc_id bigint, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["n_shared_grams"]
           for r in substring_dup_pairs(docs, w=20).collect()}
    # 1-2 share the passage AND the boiler gram; 3 pairs only via boiler
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert (1, 3) in got and (2, 3) in got

    capped = {(r["doc_a"], r["doc_b"]): r["n_shared_grams"]
              for r in substring_dup_pairs(docs, w=20, max_gram_df=2).collect()}
    # the boiler gram (df=3) is dropped: only the real shared passage pairs
    assert set(capped) == {(1, 2)}
    assert (1, 2) in capped and capped[(1, 2)] >= 1

    # min_shared raises the bar
    strict = substring_dup_pairs(docs, w=20, min_shared=100).collect()
    assert strict == []


def test_normalize_url_canonicalization(spark):
    """Scheme/case/www/trailing-slash/param-order/tracking variants of
    one resource collapse to a single canonical URL; distinct resources
    stay distinct; null/schemeless inputs don't crash."""
    from ontoemma_spark.operators.textstats import normalize_url

    variants = [
        "https://WWW.Example.COM/Page/One/?utm_source=x&b=2&a=1",
        "http://example.com/Page/One?a=1&b=2",
        "https://example.com/Page/One?b=2&a=1&fbclid=zz",
        "https://example.com:443/Page/One?a=1&b=2#section",
    ]
    others = [
        "https://example.com/Page/Two?a=1&b=2",   # different path
        "https://example.com/page/one?a=1&b=2",   # path case matters
        "https://other.com/Page/One?a=1&b=2",     # different host
        # `ref` is resource-identifying (code hosts) — NOT stripped
        "https://example.com/Page/One?a=1&b=2&ref=main",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in variants + others], "url string")
    got = [r["n"] for r in df.select(normalize_url("url").alias("n")).collect()]
    assert len(set(got[:4])) == 1
    assert got[0] == "example.com/Page/One?a=1&b=2"
    assert got[7] == "example.com/Page/One?a=1&b=2&ref=main"
    assert len(set(got)) == 6  # 1 canonical + 4 distinct + ''
    assert got[-1] == ""
    # valueless tracking param is still stripped
    one = spark.createDataFrame(
        [("https://example.com/p?fbclid&a=1",)], "url string"
    ).select(normalize_url("url").alias("n")).collect()[0]["n"]
    assert one == "example.com/p?a=1"

    # ports: non-default ports are resource-identifying and KEPT
    # (parse_url HOST silently drops them — r4 ADVICE); default ports
    # (:80 http, :443 https) strip to the portless form
    ports = [
        "http://host.com:8080/x",    # kept — distinct from host.com/x
        "http://host.com/x",
        "http://host.com:80/x",      # default http port → stripped
        "https://host.com:443/x",    # default https port → stripped
        "https://host.com:8443/x",   # kept
    ]
    pn = [r["n"] for r in spark.createDataFrame(
        [(u,) for u in ports], "url string"
    ).select(normalize_url("url").alias("n")).collect()]
    assert pn[0] == "host.com:8080/x"
    assert pn[1] == pn[2] == pn[3] == "host.com/x"
    assert pn[4] == "host.com:8443/x"
    assert len(set(pn)) == 3


def test_paragraph_dedup_hand_case(spark):
    """Corpus-wide repeated paragraphs drop (first kept by doc/pos
    order); unique paragraphs survive; docs rebuild in original order;
    keep_first=False drops every copy."""
    from ontoemma_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha one\nSHARED BOILER\nalpha two"),
            (2, "SHARED BOILER\nbeta middle\nSHARED BOILER"),
            (3, "gamma only"),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert set(got) == {1, 2, 3}          # null text → no paragraphs
    assert got[1]["text"] == "alpha one\nSHARED BOILER\nalpha two"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (3, 3)
    # doc 2: both copies of the boiler lose to doc 1's occurrence
    assert got[2]["text"] == "beta middle"
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (3, 1)
    assert got[3]["text"] == "gamma only"

    all_dropped = {r["doc_id"]: r for r in
                   paragraph_dedup(docs, keep_first=False).collect()}
    assert all_dropped[1]["text"] == "alpha one\nalpha two"
    assert all_dropped[2]["text"] == "beta middle"

    # trailing newlines yield empty units — dropped, never deduped
    # (they'd otherwise all share md5('') corpus-wide)
    trail = spark.createDataFrame(
        [(10, "one para\n"), (11, "other para\n"), (12, "")],
        "doc_id bigint, text string",
    )
    tgot = {r["doc_id"]: r for r in paragraph_dedup(trail).collect()}
    assert set(tgot) == {10, 11}          # empty text → no paragraphs
    assert tgot[10]["text"] == "one para" and tgot[10]["n_paras"] == 1
    assert tgot[11]["text"] == "other para" and tgot[11]["n_kept"] == 1

    # determinism under repartitioning (min-struct agg, not arrival order)
    again = {r["doc_id"]: r["text"]
             for r in paragraph_dedup(docs.repartition(7)).collect()}
    assert again == {k: v["text"] for k, v in got.items()}


def test_exact_substring_removal_hand_case(spark):
    """Lee et al.-style ExactSubstr: duplicated >= w-token spans are
    EXCISED (first corpus occurrence kept), untouched docs reproduce
    byte-identical, a fully-duplicated doc rebuilds to "", within-doc
    repeats lose their later copies, and keep_first=False excises every
    copy. Deterministic under repartitioning (min-struct agg)."""
    from ontoemma_spark.operators.dedup import exact_substring_removal

    span = " ".join(f"dup{i}" for i in range(25))  # 25-token span, > w
    def uniq(d, n):
        return " ".join(f"u{d}x{i}" for i in range(n))

    rows = [
        (0, f"{uniq(0, 10)} {span} {uniq(0, 5)}"),   # first occurrence
        (1, f"{uniq(1, 7)} {span} {uniq(1, 9)}"),    # later copy
        (2, uniq(2, 30)),                            # no duplication
        (3, span),                                   # doc IS the span
        (4, "short doc under twenty tokens stays"),  # < w: no windows
        (5, f"{span} {uniq(5, 3)} {span}"),          # two in-doc copies
        (6, None),                                   # null text: absent
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in
           exact_substring_removal(docs, w=20).collect()}
    orig = dict(rows)

    assert set(got) == {0, 1, 2, 3, 4, 5}
    # first occurrence and undup'd docs are byte-identical
    for k in (0, 2, 4):
        assert got[k]["text"] == orig[k] and got[k]["n_removed"] == 0, k
    # the copy loses exactly the span; its unique head/tail survive
    assert got[1]["text"] == f"{uniq(1, 7)} {uniq(1, 9)}"
    assert (got[1]["n_tokens"], got[1]["n_removed"]) == (41, 25)
    # fully-duplicated doc rebuilds to "" (row kept — caller drops)
    assert got[3]["text"] == "" and got[3]["n_removed"] == 25
    # doc 5: doc 0 owns the corpus-first occurrence, so BOTH in-doc
    # copies are non-first and both excise
    assert got[5]["text"] == uniq(5, 3) and got[5]["n_removed"] == 50

    # keep_first=False: doc 0's copy goes too
    allgone = {r["doc_id"]: r for r in
               exact_substring_removal(docs, w=20, keep_first=False).collect()}
    assert allgone[0]["text"] == f"{uniq(0, 10)} {uniq(0, 5)}"
    assert allgone[2]["text"] == orig[2]  # unique text still untouched

    # lossless tokenization: runs of spaces / embedded newlines in
    # untouched docs survive byte-identical
    weird = spark.createDataFrame(
        [(7, "a  b   c\nd e"), (8, "")], "doc_id bigint, text string")
    wgot = {r["doc_id"]: r["text"] for r in
            exact_substring_removal(weird, w=20).collect()}
    assert wgot == {7: "a  b   c\nd e", 8: ""}

    again = {r["doc_id"]: r["text"] for r in
             exact_substring_removal(docs.repartition(7), w=20).collect()}
    assert again == {k: v["text"] for k, v in got.items()}


def test_sample_frames_ppm_stream(spark):
    """Concatenated-P6 'videos' decode for real: stride-k sampling emits
    frames 0, k, 2k… with formula-matching dims/counts and features that
    equal image_features of the directly-decoded frame; MP4-magic blobs
    emit one flagged fallback row."""
    from ontoemma_spark.media import codecs
    from ontoemma_spark.operators.multimodal import sample_frames, synthetic_videos

    vids = synthetic_videos(spark, n=24)
    rows = sample_frames(vids, every_k=2).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["media_id"], []).append(r)

    raw = {r["media_id"]: bytes(r["payload"]) for r in vids.collect()}
    assert set(by_vid) == set(raw)
    for i in range(24):
        mid = f"v{i:04d}"
        got = sorted(by_vid[mid], key=lambda r: r["frame_idx"])
        if i % 5 == 4:  # fallback container
            assert len(got) == 1 and not got[0]["decoded"]
            assert (got[0]["n_frames"], got[0]["width"]) == (0, 0)
            continue
        n_frames = 3 + i % 4
        h, w = 4 + i % 3, 5 + i % 2
        assert [r["frame_idx"] for r in got] == list(range(0, n_frames, 2))
        assert all(r["n_frames"] == n_frames and r["decoded"] for r in got)
        assert all((r["width"], r["height"]) == (w, h) for r in got)
        # feature parity vs direct decode of the same member
        members = codecs.split_ppm_stream(raw[mid])
        for r in got:
            expect = codecs.image_features(
                codecs.decode_ppm(members[r["frame_idx"]]), grid=8)
            # array<float> storage is float32 — compare to that precision
            assert all(abs(float(a) - b) < 1e-5
                       for a, b in zip(r["feature"], expect)), (mid, r["frame_idx"])

    # strictness: trailing garbage after a valid member → flagged, not
    # silently truncated
    bad = spark.createDataFrame(
        [("bad1", "video",
          raw["v0000"] + b"GARBAGE", "application/octet-stream", None, None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int",
    )
    brow = sample_frames(bad).collect()
    assert len(brow) == 1 and not brow[0]["decoded"]


def test_incremental_dedup_batch_vs_corpus(spark):
    """Batch-vs-corpus flags: exact content rehits flag exact_dup (and
    near_dup — identical sigs collide trivially); disjoint-vocabulary
    docs flag neither; near flags equal an independently-computed band
    intersection (exploded-form signatures cross-check the narrow
    form); batch-internal dups are NOT flagged; hash-only mode leaves
    near_dup false."""
    from ontoemma_spark.operators.dedup import (
        band_hashes,
        dedup_state,
        incremental_dedup,
        minhash_signatures,
        word_shingles,
    )

    prior = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(20)],
        "doc_id bigint, text string",
    )
    near_text = " ".join(f"w3x{j}" for j in range(29)) + " CHANGED"
    batch = spark.createDataFrame(
        [
            (100, " ".join(f"w5x{j}" for j in range(30))),  # exact rehit of 5
            (101, near_text),                               # near: 29/30 of doc 3
            (102, " ".join(f"fresh{j}" for j in range(30))),  # new vocab
            (103, " ".join(f"other{j}" for j in range(30))),  # batch-internal...
            (104, " ".join(f"other{j}" for j in range(30))),  # ...exact pair
        ],
        "doc_id bigint, text string",
    )
    hashes, bands_tbl = dedup_state(prior)
    got = {r["doc_id"]: r for r in
           incremental_dedup(batch, hashes, bands_tbl).collect()}

    assert got[100]["exact_dup"] and got[100]["near_dup"]
    assert not got[102]["exact_dup"] and not got[102]["near_dup"]
    # batch-internal duplicates (103/104) are not corpus rehits
    assert not got[103]["exact_dup"] and not got[104]["exact_dup"]
    assert not got[101]["exact_dup"]

    # near flag == independent band intersection via the EXPLODED
    # signature form (different code path than the narrow sketch)
    prior_bands = {
        (r["band_idx"], r["band_hash"])
        for r in band_hashes(minhash_signatures(word_shingles(prior, w=3))).collect()
    }
    batch_bands = band_hashes(
        minhash_signatures(word_shingles(batch, w=3))).collect()
    expect_near = {}
    for r in batch_bands:
        expect_near.setdefault(r["doc_id"], False)
        if (r["band_idx"], r["band_hash"]) in prior_bands:
            expect_near[r["doc_id"]] = True
    assert {d: got[d]["near_dup"] for d in got} == expect_near

    # hash-only mode: no band probe, near_dup stays false
    only = {r["doc_id"]: r for r in incremental_dedup(batch, hashes).collect()}
    assert only[100]["exact_dup"] and not only[100]["near_dup"]


def test_line_stats_hand_computed(spark):
    from ontoemma_spark.operators.textstats import line_stats

    docs = spark.createDataFrame(
        [
            (1, "Home\nAbout\nHome\nProducts\nHome"),     # 5 lines, Home x3
            (2, "- one\n* two\nplain\n• three"),          # 3/4 bullets
            (3, "Read more...\nFull text here\nmore…"),   # 2/3 ellipsis
            (4, "single line no tricks"),
            (5, ""),
            (6, None),
            (7, "a\n\n\na"),                              # empties dropped
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in line_stats(docs).collect()}
    assert (got[1]["n_lines"], got[1]["dup_line_frac"]) == (5, 2 / 5)
    assert abs(got[2]["bullet_line_frac"] - 0.75) < 1e-12
    assert abs(got[3]["ellipsis_line_frac"] - 2 / 3) < 1e-12
    assert got[4]["n_lines"] == 1 and got[4]["dup_line_frac"] == 0.0
    for d in (5, 6):
        r = got[d]
        assert r["n_lines"] == 0 and r["dup_line_frac"] == 0.0
        assert r["ellipsis_line_frac"] == 0.0 and r["bullet_line_frac"] == 0.0
    assert (got[7]["n_lines"], got[7]["dup_line_frac"]) == (2, 0.5)


def test_key_skew_stats(spark):
    """Top-n heavy hitters with shares; deterministic count-then-key
    tiebreak; null keys are counted as a (hot) key."""
    from ontoemma_spark.operators.textstats import key_skew_stats

    rows = ([("hot",)] * 50 + [("warm",)] * 20 + [(None,)] * 20
            + [("a",)] * 5 + [("b",)] * 5)
    df = spark.createDataFrame(rows, "k string")
    got = [(r["key"], r["cnt"], round(r["share"], 6))
           for r in key_skew_stats(df, "k", top_n=4).collect()]
    assert got[0] == ("hot", 50, 0.5)
    assert {got[1][0], got[2][0]} == {"warm", None} and got[1][1] == 20
    assert got[3] == ("a", 5, 0.05)  # 'a' < 'b' tiebreak


def test_dedup_normalize_and_latest_snapshot(spark):
    from datetime import datetime, timezone

    from ontoemma_spark.operators.textstats import (
        dedup_normalize_col,
        latest_snapshot,
    )

    docs = spark.createDataFrame(
        [
            (1, "Café Nº 24!"),
            (2, "cafe n 0"),                      # normalizes equal to 1
            (3, "Boiler   PLATE, édition 2024."),
            (4, "boiler plate edition 0"),        # equal to 3
            (5, "different words entirely"),
        ],
        "doc_id bigint, text string",
    )
    norm = {r["doc_id"]: r["n"] for r in
            docs.select("doc_id", dedup_normalize_col("text").alias("n")).collect()}
    assert norm[1] == "cafe n 0" == norm[2]
    assert norm[3] == "boiler plate edition 0" == norm[4]
    assert norm[5] == "different words entirely"

    ts = lambda s: datetime(2026, 1, 1, 0, 0, s, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [
            ("u1", ts(5), "old"),
            ("u1", ts(9), "new"),
            ("u2", ts(3), "only"),
            ("u3", ts(4), "a"),   # tie on ts → later struct cols break it
            ("u3", ts(4), "b"),
        ],
        "url string, warc_ts timestamp, body string",
    )
    got = {r["url"]: (r["warc_ts"].second, r["body"])
           for r in latest_snapshot(pages).collect()}
    assert got == {"u1": (9, "new"), "u2": (3, "only"), "u3": (4, "b")}


def test_unigram_logprob_scores(spark):
    """Exact python twin of the unigram model: self-fit corpus has no
    OOV and hand-computable means; scoring NEW docs against a given
    vocab exercises the OOV floor; prose outscores gibberish."""
    import math

    from ontoemma_spark.operators.textstats import (
        unigram_logprob_scores,
        unigram_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the dog"), (3, "zq")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob_scores(docs).collect()}
    # corpus counts: the=3 cat=1 sat=1 dog=1 zq=1, total=7
    ln = lambda c: math.log(c / 7)
    assert got[1]["n_oov"] == 0
    assert abs(got[1]["mean_logprob"] - (ln(3) + ln(1) + ln(1)) / 3) < 1e-12
    assert abs(got[2]["mean_logprob"] - (2 * ln(3) + ln(1)) / 3) < 1e-12
    # the common-word doc scores above the rare-word doc
    assert got[2]["mean_logprob"] > got[3]["mean_logprob"]

    vocab = unigram_vocab(docs)
    new = spark.createDataFrame(
        [(9, "the cat UNKNOWNTOKEN")], "doc_id bigint, text string"
    )
    r = unigram_logprob_scores(new, vocab=vocab).collect()[0]
    assert r["n_oov"] == 1
    oov = math.log(1 / (7 + 5))  # total=7, |V|=5
    assert abs(r["mean_logprob"] - (ln(3) + ln(1) + oov) / 3) < 1e-12


def test_url_blocklist_filter(spark):
    """Suffix semantics: exact host, parent-domain, and multi-level
    parent entries all block; unrelated hosts and lookalike
    ('notexample.com' vs 'example.com') survive; null URLs pass."""
    from ontoemma_spark.operators.textstats import host_suffixes, url_blocklist_filter

    pages = spark.createDataFrame(
        [
            ("https://ads.Example.com/x", 1),
            ("https://example.com/y", 2),
            ("https://sub.notexample.com/z", 3),
            ("https://keep.org/a", 4),
            ("https://bad.co.uk/b", 5),
            (None, 6),
        ],
        "url string, doc_id bigint",
    )
    bl = spark.createDataFrame([("EXAMPLE.com",), ("bad.co.uk",)], "domain string")
    kept = {r["doc_id"] for r in url_blocklist_filter(pages, bl).collect()}
    assert kept == {3, 4, 6}

    sfx = pages.filter("doc_id = 1").select(
        host_suffixes("url").alias("s")).collect()[0]["s"]
    assert sfx == ["ads.example.com", "example.com", "com"]


def test_winnowing_fingerprints(spark):
    """Exact python twin (windowed min, rightmost tie-break) and the
    winnowing GUARANTEE: docs sharing a >= w+k-1 token run share a
    fingerprint; short docs emit nothing; zero-shuffle plan."""
    import hashlib

    from ontoemma_spark.operators.textstats import winnowing_fingerprints

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} nine ten eleven"),
            (2, f"{shared} completely different tail words here"),
            (3, "tiny doc"),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    got = {}
    for r in winnowing_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))

    def twin(text):
        toks = text.split(" ")
        hs = [hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
              for i in range(len(toks) - k + 1)]
        out = set()
        for i in range(len(hs) - w + 1):
            win = hs[i:i + w]
            mn = min(win)
            pos = max(j for j in range(w) if win[j] == mn)  # rightmost
            out.add((i + pos, mn))
        return out

    assert got[1] == twin(docs.collect()[0]["text"])
    assert got[2] == twin(docs.collect()[1]["text"])
    assert 3 not in got and 4 not in got
    # guarantee: the shared 6-token run yields a common fp hash
    assert {f for _, f in got[1]} & {f for _, f in got[2]}

    plan = winnowing_fingerprints(docs, k=k, w=w)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan
