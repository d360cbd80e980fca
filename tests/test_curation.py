"""Curation operators: PII redaction, mixture sampling, sequence packing."""

import random
from datetime import datetime, timezone

from pyspark.sql import functions as F

from ontoemma_spark.operators.curation import (
    mixture_sample,
    pack_sequences,
    pack_sequences_py,
    redact_pii,
)


def test_redact_pii_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.org thanks"),
            (2, "call +1 555-123-4567 or 555-000-1111 now"),
            (3, "server at 10.0.0.1 and 192.168.100.200 down"),
            (4, "clean text with no identifiers at all"),
            (5, "combo a@b.io 555-111-2222 1.2.3.4"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["text"]
    assert "jane" not in got[1]["text"]
    assert got[2]["n_phone"] == 2 and got[2]["text"].count("<PHONE>") == 2
    assert got[3]["n_ip"] == 2 and got[3]["text"].count("<IP>") == 2
    assert got[4]["text"] == "clean text with no identifiers at all"
    assert (got[4]["n_email"], got[4]["n_phone"], got[4]["n_ip"]) == (0, 0, 0)
    assert got[5]["text"] == "combo <EMAIL> <PHONE> <IP>"


def test_mixture_sample_deterministic_and_weighted(spark):
    docs = spark.createDataFrame(
        [(i, "srcA" if i % 2 == 0 else "srcB", f"text {i}") for i in range(400)],
        ["doc_id", "source", "text"],
    )
    weights = spark.createDataFrame(
        [("srcA", 1.0), ("srcB", 0.25)], ["source", "weight"]
    )
    kept1 = sorted(r["doc_id"] for r in mixture_sample(docs, weights).collect())
    kept2 = sorted(
        r["doc_id"]
        for r in mixture_sample(docs.repartition(7), weights).collect()
    )
    # deterministic under repartitioning
    assert kept1 == kept2
    # weight 1.0 keeps every srcA doc
    assert [d for d in kept1 if d % 2 == 0] == [d for d in range(400) if d % 2 == 0]
    # weight 0.25 keeps roughly a quarter of srcB (binomial, wide bounds)
    n_b = len([d for d in kept1 if d % 2 == 1])
    assert 20 <= n_b <= 90, n_b
    # weight 0.0 keeps nothing
    zero = spark.createDataFrame([("srcA", 0.0), ("srcB", 0.0)], ["source", "weight"])
    assert mixture_sample(docs, zero).count() == 0


def test_pack_sequences_matches_python_spec(spark):
    rng = random.Random(11)
    rows = [
        (i, " ".join("w" for _ in range(rng.randint(1, 120))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "g", F.col("doc_id") % 4
    )
    got = {
        (r["grp"], r["doc_id"]): (r["bin_idx"], r["n_tokens"], r["bin_fill"])
        for r in pack_sequences(docs, max_tokens=256, group_col="g").collect()
    }
    spec_rows = [(i % 4, i, len(rows[i][1].split(" "))) for i in range(200)]
    expected = {
        (g, d): (b, n, f)
        for g, b, d, n, f in pack_sequences_py(spec_rows, max_tokens=256)
    }
    assert got == expected
    # capacity invariant: a bin only exceeds max_tokens when it holds a
    # single oversized doc
    fills = {}
    for (g, d), (b, n, f) in got.items():
        fills.setdefault((g, b), []).append(n)
    for (g, b), sizes in fills.items():
        if sum(sizes) > 256:
            assert len(sizes) == 1, (g, b, sizes)


def test_pack_sequences_default_hash_grouping(spark):
    docs = spark.createDataFrame(
        [(i, "one two three four five") for i in range(50)], ["doc_id", "text"]
    )
    out = pack_sequences(docs, max_tokens=10, n_groups=8)
    rows = out.collect()
    assert len(rows) == 50
    assert set(r["grp"] for r in rows) <= set(range(8))
    # 5-token docs, 10-token bins -> every full bin holds exactly 2 docs
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r["grp"], r["bin_idx"]), 0)
        per_bin[(r["grp"], r["bin_idx"])] += 1
    assert all(c <= 2 for c in per_bin.values())


def test_curation_ops_survive_null_text_and_empty_inputs(spark):
    """Null text / empty inputs must not kill the job (the corrupt-row
    probes that found real bugs in earlier rounds)."""
    from ontoemma_spark.operators.dedup import (
        contamination_hits,
        resolve_duplicate_clusters,
    )
    from ontoemma_spark.operators.textstats import repetition_scores

    docs = spark.createDataFrame(
        [(1, "normal text with several words here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    # repetition: null/short texts simply produce no grams
    rep = repetition_scores(docs, w=2)
    assert {r["doc_id"] for r in rep.collect()} == {1}

    # decontamination: null-text docs still come back, uncontaminated
    bench = spark.createDataFrame([(9, "zz yy xx ww vv")], ["doc_id", "text"])
    cont = {r["doc_id"]: r for r in contamination_hits(docs, bench, w=5).collect()}
    assert set(cont) == {1, 2, 3}
    assert not cont[2]["contaminated"] and cont[2]["n_hit_grams"] == 0

    # resolve with an EMPTY pair graph: everyone is their own canonical
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    res = resolve_duplicate_clusters(docs, empty_pairs).collect()
    assert len(res) == 3 and all(r["is_canonical"] for r in res)

    # redaction passes null text through as null, zero counts
    red = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert red[2]["text"] is None and red[2]["n_email"] == 0

    # packing: null text has split()->null -> excluded (no token count)
    packed = pack_sequences(docs, max_tokens=8, n_groups=2).collect()
    assert {r["doc_id"] for r in packed} <= {1, 2, 3}


def test_curate_cli_synthetic(tmp_path):
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "packed")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "curate_corpus.py"),
         "--synthetic", "--out", out, "--max-tokens", "128"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["docs_in"] == 400
    # the 8 synthetic benchmark docs (every 50th) are self-contaminated
    assert stats["docs_packed"] == 392
    assert stats["tokens"] == 392 * 60
    assert os.path.isdir(out)


def test_curate_corpus_pack_group_col_survives_redaction(spark):
    """pack_group_col must reach the packer (it used to be dropped by
    the redaction projection and crash with UNRESOLVED_COLUMN)."""
    from ontoemma_spark.operators.curation import curate_corpus

    rows = [
        (i, f"src{i % 2}", i % 3,
         " ".join(f"word{(i * 13 + j * 5) % 997} item{(i + j * 3) % 53}"
                  for j in range(15)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "shard", "text"])
    bench = docs.limit(0)
    weights = docs.select("source").distinct().withColumn("weight", F.lit(1.0))
    out = curate_corpus(docs, bench, weights, max_tokens=64,
                        pack_group_col="shard")
    rows_out = out.collect()
    assert len(rows_out) == 40
    assert {r["grp"] for r in rows_out} == {0, 1, 2}
    # grouping must follow the caller's column exactly
    assert all(r["grp"] == r["doc_id"] % 3 for r in rows_out)


def test_lsh_excludes_gramless_docs(spark):
    """Docs shorter than the shingle width carry all-NULL narrow
    signatures; they must NOT collapse into one md5('') LSH bucket."""
    from ontoemma_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_narrow,
    )

    docs = spark.createDataFrame(
        [(i, "x") for i in range(30)]          # 30 gram-less docs
        + [(100, "a b c d e"), (101, "a b c d e")],
        ["doc_id", "text"],
    )
    sig = minhash_signatures_narrow(docs, w=3, num_hashes=4)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in lsh_candidate_pairs(sig, num_hashes=4, bands=2).collect()}
    # the real twin pair survives; the 30 gram-less docs yield C(30,2)=435
    # phantom pairs without the null filter
    assert pairs == {(100, 101)}


def test_curate_cli_partial_weights_fill(tmp_path):
    """Sources missing from --weights-json keep weight 1.0 (they used
    to be dropped silently by the inner weights join)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wfile = tmp_path / "w.json"
    wfile.write_text(json.dumps({"src0": 0.0}))  # only 1 of 4 sources
    out = str(tmp_path / "packed")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "curate_corpus.py"),
         "--synthetic", "--out", out, "--max-tokens", "128",
         "--weights-json", str(wfile)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    # 400 docs: 8 benchmark docs self-contaminated (4 src0 + 4 src2);
    # weight 0.0 removes the remaining 96 src0 docs; src1-3 keep 1.0
    assert stats["docs_packed"] == 400 - 8 - 96


def test_mixture_sample_keeps_unweighted_sources(spark):
    """A source with no weights row is kept at weight 1.0 (partial
    weights tables must not silently drop whole sources); weight 0.0
    is the explicit way to exclude one."""
    from ontoemma_spark.operators.curation import mixture_sample

    docs = spark.createDataFrame(
        [(i, "covered" if i % 2 == 0 else "uncovered", f"t{i}")
         for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    weights = spark.createDataFrame(
        [("covered", 0.0)], "source string, weight double"
    )
    got = mixture_sample(docs, weights)
    srcs = {r["source"] for r in got.collect()}
    assert srcs == {"uncovered"}
    assert got.count() == 20  # every uncovered doc survives (w=1.0)


def test_pack_sequences_string_doc_ids(spark):
    """URL-keyed corpora (e.g. WARC pages) pack fine: the output doc_id
    type follows the input id column."""
    from ontoemma_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(f"http://h/{i:03d}", "w " * (i % 7 + 1)) for i in range(30)],
        "doc_id string, text string",
    )
    got = pack_sequences(docs, max_tokens=10, n_groups=2)
    assert dict(got.dtypes)["doc_id"] == "string"
    rows = got.collect()
    assert len(rows) == 30
    assert all(r["bin_fill"] <= 10 or r["n_tokens"] > 10 for r in rows)


def test_curate_corpus_pre_dedup_paragraphs(spark):
    """Opt-in stage 0: boilerplate paragraphs vanish before scoring, so
    packed token counts shrink accordingly; a doc that was ALL
    boilerplate rebuilds empty and is dropped by stage 0's explicit
    length decision. Default (off) leaves text untouched."""
    from ontoemma_spark.operators.curation import curate_corpus

    import random as _random

    rng = _random.Random(5)
    vocab = [f"word{k}" for k in range(600)]
    boiler = "all rights reserved by the publisher of this site"

    def body(i):
        return " ".join(rng.sample(vocab, 18))

    rows = [
        (i, f"src{i % 2}", f"{body(i)}.\n{boiler}")
        for i in range(12)
    ] + [(99, "src0", boiler)]  # pure-boilerplate doc
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    bench = docs.limit(0)
    weights = docs.select("source").distinct().withColumn("weight", F.lit(1.0))

    packed_on = curate_corpus(docs, bench, weights, max_tokens=64,
                              n_pack_groups=2, pre_dedup_paragraphs=True)
    on = {r["doc_id"]: r for r in packed_on.collect()}
    packed_off = curate_corpus(docs, bench, weights, max_tokens=64,
                               n_pack_groups=2)
    off = {r["doc_id"]: r for r in packed_off.collect()}

    # pack_sequences tokenizes with split(text, " ") — the "\n" between
    # paragraphs does NOT separate tokens, so "body.\nall" is ONE token
    # and dropping the boiler paragraph removes len(boiler)-1 tokens.
    boiler_delta = len(boiler.split()) - 1
    # doc 0 keeps the one surviving boilerplate copy; docs 1..11 lose it
    assert on[0]["n_tokens"] == off[0]["n_tokens"]
    for i in range(1, 12):
        assert on[i]["n_tokens"] == off[i]["n_tokens"] - boiler_delta, i
    # the all-boilerplate doc rebuilt to "" and fell to the quality gate
    assert 99 not in on and 99 in off


def test_leakage_safe_split(spark):
    """All pages of a host share one split; assignment is deterministic
    and independent of other rows (adding docs never moves a host);
    fractions are approximately honored over many hosts; null URLs get
    the deterministic '' bucket."""
    from ontoemma_spark.operators.curation import leakage_safe_split

    rows = [
        (h * 10 + p, f"https://host{h}.example.com/page/{p}")
        for h in range(200) for p in range(3)
    ] + [(9999, None)]
    docs = spark.createDataFrame(rows, "doc_id bigint, url string")
    got = leakage_safe_split(docs).collect()

    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], set()).add(r["split"])
    # leakage-safety: one split per host, no exceptions
    assert all(len(s) == 1 for s in by_host.values())
    assert by_host[""] and len(by_host) == 201  # null url → '' host

    splits = {h: next(iter(s)) for h, s in by_host.items() if h}
    n = len(splits)
    frac_train = sum(1 for v in splits.values() if v == "train") / n
    frac_dev = sum(1 for v in splits.values() if v == "dev") / n
    assert 0.84 <= frac_train <= 0.96, frac_train
    assert frac_dev <= 0.12
    assert {"train", "dev", "test"} >= set(splits.values())

    # incremental stability: a disjoint second batch reproduces the
    # SAME host assignments (hash depends only on the host)
    more = spark.createDataFrame(
        [(100000 + h, f"https://host{h}.example.com/new") for h in range(200)],
        "doc_id bigint, url string",
    )
    again = {r["host"]: r["split"] for r in leakage_safe_split(more).collect()}
    assert again == splits


def test_chunk_documents_hand_case(spark):
    """Stride/overlap arithmetic: chunk k covers tokens [k*stride,
    k*stride+max); the last chunk keeps the remainder; a pure-suffix
    trailing chunk is never emitted; short docs come back as one
    byte-identical chunk; reassembling stride slices reproduces the
    doc exactly when overlap=0."""
    from ontoemma_spark.operators.curation import chunk_documents

    t10 = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, t10), (2, "short doc"), (3, None), (4, "a  b\nc")],
        "doc_id bigint, text string",
    )

    got = [(r["doc_id"], r["chunk_idx"], r["text"], r["n_tokens"])
           for r in chunk_documents(docs, max_tokens=4)
           .orderBy("doc_id", "chunk_idx").collect()]
    assert got == [
        (1, 0, "t0 t1 t2 t3", 4), (1, 1, "t4 t5 t6 t7", 4), (1, 2, "t8 t9", 2),
        (2, 0, "short doc", 2),
        # lossless: double space (an empty token) + newline survive
        (4, 0, "a  b\nc", 3),
    ]
    assert " ".join(c[2] for c in got[:3]) == t10  # overlap=0 reassembles

    # overlap=1, n=10, max=4, stride=3: starts 0,3,6 — start 9 would be
    # a pure suffix of the previous chunk and must not appear
    ov = [(r["chunk_idx"], r["text"]) for r in
          chunk_documents(docs.filter("doc_id = 1"), max_tokens=4, overlap=1)
          .orderBy("chunk_idx").collect()]
    assert ov == [(0, "t0 t1 t2 t3"), (1, "t3 t4 t5 t6"), (2, "t6 t7 t8 t9")]

    import pytest
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)


def test_token_budget_sample(spark):
    """Per-source running token totals against the python twin: kept
    set = docs whose hash-order prefix sum is under budget (the
    crossing doc included); missing budget rows keep everything;
    budget 0 drops the source; selection is partitioning-independent."""
    import hashlib

    from ontoemma_spark.operators.curation import token_budget_sample

    rows = [(i, f"src{i % 3}", " ".join(f"w{i}x{j}" for j in range(5 + i % 7)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    budgets = spark.createDataFrame(
        [("src0", 40), ("src1", 0)], "source string, token_budget bigint"
    )
    got = {r["doc_id"]: r for r in token_budget_sample(docs, budgets).collect()}

    # python twin
    def draw(i):
        return hashlib.md5(f"budget:{i}".encode()).hexdigest()[:16]

    expect = {}
    for src in ("src0", "src1", "src2"):
        members = sorted((d for d in rows if d[1] == src),
                         key=lambda d: draw(d[0]))
        budget = {"src0": 40, "src1": 0}.get(src)
        acc = 0
        for d, s, t in members:
            n = len(t.split(" "))
            if budget is None or acc < budget:
                expect[d] = (n, acc)
            acc += n
    assert {k: (v["n_tokens"], v["tokens_before"]) for k, v in got.items()} == expect
    assert not any(r["source"] == "src1" for r in got.values())
    assert sum(1 for r in got.values() if r["source"] == "src2") == 20  # all kept

    again = {r["doc_id"] for r in
             token_budget_sample(docs.repartition(7), budgets).collect()}
    assert again == set(got)


def test_token_budget_sample_null_text_costs_zero(spark):
    """A null-text doc counts 0 tokens and is admitted under the normal
    rule in BOTH the budgeted and unbudgeted branches — r4 ADVICE: the
    un-coalesced n_tokens made `tokens_before < budget` null and
    silently dropped null-text docs from budgeted sources only."""
    from ontoemma_spark.operators.curation import token_budget_sample

    docs = spark.createDataFrame(
        [(1, "cap", None), (2, "cap", "a b c"), (3, "free", None)],
        "doc_id bigint, source string, text string",
    )
    budgets = spark.createDataFrame(
        [("cap", 100)], "source string, token_budget bigint"
    )
    got = {r["doc_id"]: r for r in token_budget_sample(docs, budgets).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_tokens"] == 0 and got[3]["n_tokens"] == 0
    # a zero-budget source still drops its null-text docs (0 < 0 false)
    zero = spark.createDataFrame([("cap", 0)], "source string, token_budget bigint")
    kept = {r["doc_id"] for r in token_budget_sample(docs, zero).collect()}
    assert kept == {3}


def test_bloom_state_and_probe(spark):
    """Sparse relational Bloom filter: no false negatives ever (every
    built key probes maybe_seen=true), false positives ≈ 0 at this
    fill ratio (600 set bits in 2^20), and the state is bounded by
    m_bits/32 rows. Python twin pins the exact bit positions."""
    import hashlib

    from pyspark.sql import functions as F

    from ontoemma_spark.operators.dedup import (
        BLOOM_K, BLOOM_M_BITS, bloom_probe, bloom_state,
    )

    seen_keys = [f"https://seen{i}.example/p/{i}" for i in range(300)]
    corpus = spark.createDataFrame([(k,) for k in seen_keys], ["key"])
    state = bloom_state(corpus)
    n_words = state.count()
    assert n_words <= BLOOM_M_BITS // 32
    assert n_words >= 1

    # python twin of the position math (conv(substr(md5),16,10) % m)
    def pos(key, i):
        return int(hashlib.md5(f"bloom{i}:{key}".encode()).hexdigest()[:8], 16) % BLOOM_M_BITS

    words = {r["word_idx"]: r["word"] for r in state.collect()}
    for key in seen_keys[:20]:
        for i in range(BLOOM_K):
            p = pos(key, i)
            assert words[p // 32] & (1 << (p % 32)), (key, i)

    batch = spark.createDataFrame(
        [(j, seen_keys[j]) for j in range(150)]
        + [(1000 + j, f"https://new{j}.example/q") for j in range(150)],
        ["doc_id", "key"],
    )
    got = {r["doc_id"]: r["maybe_seen"] for r in bloom_probe(batch, state).collect()}
    assert all(got[j] for j in range(150))          # no false negatives
    fp = sum(1 for j in range(150) if got[1000 + j])
    assert fp <= 2                                   # FPR ~ (600/2^20)^2


def test_bloom_probe_plan_is_relational(spark):
    """Build + probe must be pure equi-shapes: no Python eval, no
    cartesian, and the probe's word join an equi hash/broadcast join."""
    from ontoemma_spark.operators.dedup import bloom_probe, bloom_state

    key = F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    corpus = spark.range(100).select(key)
    state = bloom_state(corpus)
    batch = spark.range(50).select(F.col("id").alias("doc_id"), key)
    plan = bloom_probe(batch, state)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_gated_dedup_exact_under_forced_fps(spark):
    """The two-tier gate's output must be EXACT membership even when
    the bloom is saturated: m_bits=64 with 40 keys guarantees false
    positives, and every one must be resolved by the confirm join.
    Also: fresh rows (maybe_seen=false) are correct by the no-false-
    negative property alone, and the call leaves nothing persisted."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.dedup import bloom_gated_dedup, bloom_probe, bloom_state

    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)], ["key"]
    )
    batch = spark.createDataFrame(
        [(i, f"k{i}") for i in range(80)], ["doc_id", "key"]
    )
    n_persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    got = {
        r["doc_id"]: r["is_dup"]
        for r in bloom_gated_dedup(batch, corpus, m_bits=64, k=2).collect()
    }
    # nothing is left cached: the caller has no handle to release it
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_persisted
    assert len(got) == 80
    for i in range(80):
        assert got[i] == (i < 40), i
    # sanity: the tiny filter really does fire false positives, so the
    # confirm join was exercised (not vacuously green)
    state = bloom_state(corpus, m_bits=64, k=2)
    probed = bloom_probe(batch, state, m_bits=64, k=2)
    n_maybe = probed.filter(F.col("maybe_seen")).count()
    assert n_maybe > 40, "expected forced false positives at m_bits=64"


def test_host_boilerplate_lines_and_removal(spark):
    """Per-host template-line strip: threshold math (min_frac AND
    min_docs), all-boiler page → empty string (not a dropped row),
    order preserved, host isolation (same line on another host with
    low share survives)."""
    from ontoemma_spark.operators.textstats import (
        host_boilerplate_lines,
        remove_boilerplate_lines,
    )

    rows = [
        # host A: 4 docs, NAV on all, promo on 2/4 (< 0.6), unique bodies
        (1, "A", "NAV\nbody1\npromo"),
        (2, "A", "NAV\nbody2\npromo"),
        (3, "A", "NAV\nbody3"),
        (4, "A", "NAV"),                      # all-boiler page
        # host B: 2 docs; NAV also here but on only one (min_docs=2 floor)
        (5, "B", "NAV\nbodyB"),
        (6, "B", "other\nbodyB2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, host string, text string")
    boiler = {(r["host"], r["line"])
              for r in host_boilerplate_lines(docs, min_frac=0.6).collect()}
    assert boiler == {("A", "NAV")}  # promo 2/4 < 0.6; B's NAV only 1 doc
    out = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(
        docs, host_boilerplate_lines(docs, min_frac=0.6)).collect()}
    assert out == {
        1: "body1\npromo", 2: "body2\npromo", 3: "body3",
        4: "",                                  # page kept, emptied
        5: "NAV\nbodyB", 6: "other\nbodyB2",    # host B untouched
    }


def test_r5_review_curation_textstats_ann_guards(spark):
    """Round-5 review regressions (batch 3): empty-string docs cost 0
    tokens in budget sampling and never occupy a packed bin; a
    negative mixture weight drops the source instead of silently
    keeping 100% of it; source_rollup honors its column parameters on
    url-keyed tables; short docs emit NO fingerprint row on the narrow
    path; zero-norm embeddings never rank in ANN top-k or pair as
    near-dups."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.ann import (
        brute_force_topk,
        embedding_neardup_pairs,
    )
    from ontoemma_spark.operators.curation import (
        mixture_sample,
        pack_sequences,
        token_budget_sample,
    )
    from ontoemma_spark.operators.textstats import (
        document_fingerprints_narrow,
        source_rollup,
    )

    docs = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", ""), (3, "s", None)],
        "doc_id bigint, source string, text string",
    )
    budgets = spark.createDataFrame([("s", 10)], "source string, token_budget bigint")
    kept = {r["doc_id"]: r["n_tokens"]
            for r in token_budget_sample(docs, budgets).collect()}
    # empty and null both cost 0 (before this fix '' cost 1)
    assert kept == {1: 3, 2: 0, 3: 0}

    packed = pack_sequences(docs, max_tokens=10)
    assert {r["doc_id"] for r in packed.collect()} == {1}  # '' not packed

    weights = spark.createDataFrame([("s", -0.5)], "source string, weight double")
    assert mixture_sample(docs, weights).count() == 0  # clamped to 0, not 100%

    pages = spark.createDataFrame(
        [("http://a.ex/1", "good text here"), ("http://a.ex/2", "good text here")],
        "url string, body string",
    )
    roll = source_rollup(
        pages.withColumn("source", F.lit("a.ex")),
        text_col="body",
    ).collect()
    assert roll[0]["n_docs"] == 2 and roll[0]["n_distinct"] == 1

    fp = document_fingerprints_narrow(
        spark.createDataFrame([(1, "a b c d"), (2, "x")],
                              "doc_id bigint, text string"))
    assert [r["doc_id"] for r in fp.collect()] == [1]  # short doc: no row

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    top = brute_force_topk(emb, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2]        # zero vector excluded
    pairs = embedding_neardup_pairs(emb, min_cos=0.5, exact=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def _pages(spark, n=60):
    epoch = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(n):
        if i % 10 == 0:
            text = "dup dup dup dup dup dup dup dup dup dup"  # degenerate
        else:
            text = " ".join(
                f"word{(i * 13 + j * 5) % 997} item{(i + j * 3) % 53}"
                for j in range(15)
            )
        rows.append((f"u{i:04d}", epoch, bytearray(b""), text, "en"))
    # replayed content: u0001's text under a different url
    rows.append(("u9999", epoch, bytearray(b""), rows[1][3], "en"))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_page_gate_quality_matches_batch_op(spark):
    """The gate's inline quality score must equal textstats
    quality_scores on the same text."""
    from ontoemma_spark.operators.textstats import quality_score_col, quality_scores

    pages = _pages(spark)
    batch = {
        r["doc_id"]: r["quality_score"]
        for r in quality_scores(pages, text_col="text", id_col="url").collect()
    }
    inline = {
        r["url"]: r["q"]
        for r in pages.select(
            "url", F.round(quality_score_col("text"), 6).alias("q")
        ).collect()
    }
    assert inline == batch
