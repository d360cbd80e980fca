"""Property-based parity: on random inputs, the Spark column
implementations must agree with independent pure-Python twins of the
reference semantics (tokenize, n-grams, jaccard, shingles, CC)."""

import re

from hypothesis import given, settings, strategies as st

from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS
from ontoemma_spark.functions.text import char_ngrams, jaccard, normalize_string, tokenize

TEXTS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)
TOKEN_RE = re.compile(r"[A-Za-z\d]+")


def py_tokenize(s):
    return [t for t in TOKEN_RE.findall(s) if t not in ENGLISH_STOPWORDS]


def py_normalize(s):
    return s.strip().lower().replace("-", "").replace("_", " ")


def py_ngrams(s, n):
    p = "\x00" * (n - 1) + s + "\x00" * (n - 1)
    return ["".join(c) for c in zip(*[p[i:] for i in range(n)])]


def py_jaccard(a, b):
    sa, sb = set(a), set(b)
    if sa and sb:
        return len(sa & sb) / len(sa | sb)
    return -1.0


def _in_transform(spark, strings, primitive):
    """primitive applied inside a transform over one array column of
    all the strings, once under each lambda variable name the
    primitives pick for themselves first; returns the per-element
    results."""
    df = spark.createDataFrame([(strings,)], "a array<string>")
    names = ("tok0", "pos0")
    row = df.selectExpr(*[f"transform(a, {v} -> {primitive(v)}) AS {v}" for v in names]).first()
    assert row["tok0"] == row["pos0"]
    return row["tok0"]


@settings(max_examples=8, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=40))
def test_tokenize_matches_python(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r["v"] for r in df.selectExpr(f"{tokenize('s')} AS v").collect()]
    assert got == [py_tokenize(s) for s in strings]
    assert _in_transform(spark, strings, tokenize) == [py_tokenize(s) for s in strings]


@settings(max_examples=8, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=40))
def test_normalize_matches_python(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r["v"] for r in df.selectExpr(f"{normalize_string('s')} AS v").collect()]
    assert got == [py_normalize(s) for s in strings]
    assert _in_transform(spark, strings, normalize_string) == [py_normalize(s) for s in strings]


@settings(max_examples=6, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=25), st.integers(min_value=2, max_value=6))
def test_ngrams_match_python(spark, strings, n):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r["v"] for r in df.selectExpr(f"{char_ngrams('s', n)} AS v").collect()]
    assert got == [py_ngrams(s, n) for s in strings]
    got = _in_transform(spark, strings, lambda x: char_ngrams(x, n))
    assert got == [py_ngrams(s, n) for s in strings]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.text(alphabet="abcde", max_size=3), max_size=6),
            st.lists(st.text(alphabet="abcde", max_size=3), max_size=6),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_jaccard_matches_python(spark, pairs):
    # arrays treated as sets in the Spark impl → dedupe inputs for parity
    pairs = [(sorted(set(a)), sorted(set(b))) for a, b in pairs]
    df = spark.createDataFrame(pairs, "a array<string>, b array<string>")
    got = [r["v"] for r in df.selectExpr(f"{jaccard('a', 'b')} AS v").collect()]
    exp = [py_jaccard(a, b) for a, b in pairs]
    for g, e in zip(got, exp):
        assert abs(g - e) < 1e-12


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=60
    )
)
def test_connected_components_match_union_find(spark, edges):
    from ontoemma_spark.operators.components import connected_components

    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    # union-find twin
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for node in parent:
        groups.setdefault(find(node), set()).add(node)
    expected = {n: min(g) for g in groups.values() for n in g}
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),        # user_id
            st.integers(min_value=0, max_value=100_000),  # ts offset seconds
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5_000),            # gap seconds
)
def test_sessionize_batch_matches_python(spark, events, gap):
    """Random (user, ts) streams incl. duplicate timestamps: the batch
    window-function sessionization must equal the closed-form twin."""
    import pandas as pd

    from ontoemma_spark.streaming.sessions import sessionize_batch, sessionize_py

    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    rows = [(u, base + timedelta(seconds=s)) for u, s in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    rows = [(u, pd.Timestamp(t)) for u, t in rows]
    got = sorted(
        (r["user_id"], pd.Timestamp(r["session_start"]),
         pd.Timestamp(r["session_end"]), r["n_events"])
        for r in sessionize_batch(df, gap_seconds=gap).collect()
    )
    expected = sorted(sessionize_py(rows, gap, include_open=True))
    assert got == expected


# ---------------------------------------------------------------------------
# round-3 properties: NP head finder, morphy lemmatizer, greedy matching
# ---------------------------------------------------------------------------

WORDS = st.lists(
    st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1, max_size=8),
    min_size=0, max_size=8,
)


@settings(max_examples=100, deadline=None)
@given(WORDS)
def test_np_parse_invariants(words):
    """root is a token of the name (or a preposition in it); root_words
    are sorted, deduped, and drawn from the name's tokens."""
    from ontoemma_spark.functions.parse import np_parse

    name = " ".join(words)
    root, heads = np_parse(name)
    toks = set(re.findall(r"[A-Za-z\d]+", name))
    if not toks:
        assert root == "" and heads == []
        return
    assert root in toks
    assert heads == sorted(set(heads))
    assert set(heads) <= toks
    assert root in heads


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
               min_size=1, max_size=14))
def test_lemmatize_invariants(word):
    """Deterministic; never empty on non-empty input; never grows a word
    by more than the men→man class; double application is stable for
    every rule family (a lemma is a fixpoint or one step from it)."""
    from ontoemma_spark.functions.stem import simple_lemmatize

    a = simple_lemmatize(word)
    assert a == simple_lemmatize(word)
    assert a
    assert len(a) <= len(word) + 1
    b = simple_lemmatize(a)
    assert simple_lemmatize(b) == b


def py_greedy_sweep(rows, threshold):
    """Sequential greedy 1:1 matching: walk the pairs with score >=
    threshold in (score desc, s_id, t_id) order and keep a pair when
    neither endpoint is matched yet."""
    used_s, used_t, out = set(), set(), set()
    for s_, t_, score in sorted(
        (r for r in rows if r[2] >= threshold), key=lambda r: (-r[2], r[0], r[1])
    ):
        if s_ not in used_s and t_ not in used_t:
            used_s.add(s_)
            used_t.add(t_)
            out.add((s_, t_, score))
    return out


def _greedy_rows(pairs, tied, shared_ids):
    """Score rows over index pairs. tied draws scores from three values,
    so most pairs tie with another; shared_ids gives sources and targets
    one id space, so s_id "3" and t_id "3" are different nodes."""
    s_pre, t_pre = ("", "") if shared_ids else ("s", "t")
    return [
        (f"{s_pre}{a}", f"{t_pre}{b}",
         (0.5, 0.9, 1.0)[(a + 2 * b) % 3] if tied else 1.0 / (1 + 7 * a + 13 * b))
        for a, b in pairs
    ]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=0, max_size=12, unique=True,
    ),
    st.booleans(),
    st.booleans(),
    st.sampled_from([0.0, 0.9]),
)
def test_greedy_matching_properties(spark, pairs, tied, shared_ids, threshold):
    """On any score table: the greedy result is a 1:1 MATCHING (no s or
    t repeats), is a subset of the input, is MAXIMAL (no remaining
    input pair at or above the threshold has both endpoints free), and
    equals the sequential sorted sweep — with heavy score ties, a shared
    s/t id space, empty input and a threshold equal to a score."""
    from ontoemma_spark.operators.strategy import greedy_one_to_one_alignment

    rows = _greedy_rows(pairs, tied, shared_ids)
    scores = spark.createDataFrame(rows, "s_id string, t_id string, score double")
    got = [tuple(r) for r in
           greedy_one_to_one_alignment(scores, threshold=threshold).collect()]
    assert set(got) == py_greedy_sweep(rows, threshold)
    assert set(got) <= set(rows)
    ss = [p[0] for p in got]
    ts = [p[1] for p in got]
    assert len(ss) == len(set(ss)) and len(ts) == len(set(ts))  # 1:1
    used_s, used_t = set(ss), set(ts)
    for s_, t_, score in rows:  # maximality
        assert score < threshold or s_ in used_s or t_ in used_t


def test_greedy_matching_distributed_components(spark, broadcast_off):
    """The same sweep identity when connected_components takes its
    distributed path (nothing fits on the driver), on tied scores in a
    shared id space, and on empty input."""
    from ontoemma_spark.operators.strategy import greedy_one_to_one_alignment

    pairs = [(a, b) for a in range(5) for b in range(5) if (a * b + a) % 3 != 1]
    rows = _greedy_rows(pairs, tied=True, shared_ids=True)
    schema = "s_id string, t_id string, score double"
    with broadcast_off():
        for data in (rows, []):
            scores = spark.createDataFrame(data, schema)
            got = {tuple(r) for r in
                   greedy_one_to_one_alignment(scores, threshold=0.9).collect()}
            assert got == py_greedy_sweep(data, 0.9)


def py_lsh_dedup(docs, w, num_hashes, bands, min_jaccard):
    """Pure-python twin of the full LSH near-dup chain:
    shingle → seeded-md5 minhash → band buckets → exact-jaccard rescore."""
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    shingles = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        shingles[doc_id] = (
            {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}
            if len(toks) >= w else set()
        )
    sigs = {
        d: [min(md5(f"{k}:{s}") for s in sh) for k in range(num_hashes)]
        for d, sh in shingles.items() if sh
    }
    rows_per_band = num_hashes // bands
    buckets = {}
    for d, sig in sigs.items():
        for b in range(bands):
            key = (b, md5("|".join(sig[b * rows_per_band:(b + 1) * rows_per_band])))
            buckets.setdefault(key, []).append(d)
    cands = {
        (a, b)
        for ids in buckets.values()
        for a in ids for b in ids if a < b
    }
    out = set()
    for a, b in cands:
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= min_jaccard:
            out.add((a, b))
    return out


WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=0, max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(st.lists(WORDS, min_size=2, max_size=25))
def test_lsh_chain_matches_python(spark, docs_words):
    """The full banded LSH + rescore chain (cached shingles, exploded
    minhash, band join, exact-jaccard rescore) must agree with the
    python spec — including gram-less docs, which must emit nothing."""
    from ontoemma_spark.operators.dedup import (
        cached_shingle_signatures,
        lsh_candidate_pairs,
        rescore_jaccard_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    expected = py_lsh_dedup(rows, w=2, num_hashes=4, bands=2, min_jaccard=0.5)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh, sig = cached_shingle_signatures(docs, w=2, num_hashes=4)
    try:
        cand = lsh_candidate_pairs(sig, num_hashes=4, bands=2)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in rescore_jaccard_pairs(cand, sh, 0.5).collect()
        }
    finally:
        sh.unpersist()
        sig.unpersist()
    assert got == expected


def py_substring_pairs(rows, w, min_shared=1, max_gram_df=None):
    grams = {}
    for i, text in rows:
        toks = text.split(" ")
        gs = {" ".join(toks[j:j + w]) for j in range(len(toks) - w + 1)
              if len(toks) >= w}
        grams[i] = gs
    if max_gram_df is not None:
        from collections import Counter
        df = Counter(g for gs in grams.values() for g in gs)
        grams = {i: {g for g in gs if df[g] <= max_gram_df}
                 for i, gs in grams.items()}
    out = {}
    ids = sorted(grams)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            n = len(grams[a] & grams[b])
            if n >= min_shared:
                out[(a, b)] = n
    return out


@settings(max_examples=6, deadline=None)
@given(st.lists(WORDS, min_size=2, max_size=20), st.booleans())
def test_substring_pairs_match_python(spark, docs_words, capped):
    """substring_dup_pairs (banded shared-gram self-join, optional
    hot-gram cap) must agree with the brute-force python spec,
    including sub-w docs (no grams, no pairs)."""
    from ontoemma_spark.operators.dedup import substring_dup_pairs

    w = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    cap = 3 if capped else None
    expected = py_substring_pairs(rows, w=w, max_gram_df=cap)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_grams"]
        for r in substring_dup_pairs(docs, w=w, max_gram_df=cap).collect()
    }
    assert got == expected


def _py_exact_substring_removal(docs, w, keep_first=True):
    """Pure-python spec of dedup.exact_substring_removal."""
    wins = {}  # gram -> list[(doc_id, start)]
    toks = {d: t.split(" ") for d, t in docs}
    for d, t in docs:
        tk = toks[d]
        for s in range(len(tk) - w + 1):
            wins.setdefault(" ".join(tk[s : s + w]), []).append((d, s))
    marked = {}
    for occ in wins.values():
        if len(occ) <= 1:
            continue
        first = min(occ)
        for o in occ:
            if keep_first and o == first:
                continue
            marked.setdefault(o[0], set()).add(o[1])
    out = {}
    for d, t in docs:
        tk = toks[d]
        covered = set()
        for s in marked.get(d, ()):
            covered.update(range(s, s + w))
        kept = [tok for p, tok in enumerate(tk) if p not in covered]
        out[d] = (" ".join(kept), len(tk), len(tk) - len(kept))
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(  # tiny vocab forces real cross-doc window collisions
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=14)
        .map(" ".join),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
    st.booleans(),
)
def test_exact_substring_removal_matches_python(spark, texts, w, keep_first):
    """The distributed window-hash plan must equal the quadratic python
    spec on adversarial tiny-vocab corpora (heavy window collisions,
    in-doc repeats, whole-doc dups); token accounting must balance."""
    from ontoemma_spark.operators.dedup import exact_substring_removal

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in exact_substring_removal(df, w=w, keep_first=keep_first).collect()
    }
    assert got == _py_exact_substring_removal(docs, w, keep_first)
    for text, n_tokens, n_removed in got.values():
        if text:
            assert len(text.split(" ")) == n_tokens - n_removed
        else:
            assert n_removed in (n_tokens, 0) or n_tokens - n_removed == 1
