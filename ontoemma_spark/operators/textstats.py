"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All native column math with exact SQL twins (the lang profiles are
pinned Python constants that both the Spark plan and the generated
oracle SQL literalize from, so they cannot drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED
from ontoemma_spark.functions.text import in_words

# Mini function-word profiles (pinned; top function words per language).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "en", "por"),
}


def whitespace_tokens(text_col: str) -> str:
    """SQL text: the column split on single spaces."""
    return f"split(`{text_col}`, ' ')"


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per doc: whitespace token count, BPE-ish subword-regex token count
    (word pieces = letter runs / digit runs / single punctuation), chars."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.expr(whitespace_tokens(text_col))).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).cast("bigint").alias("re_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Function-word-ratio language ID: per language, the fraction of
    tokens present in that language's profile; predicted language =
    argmax (profile order tiebreak via greatest-chain determinism).
    The 10-word profiles stay a literal IN (at the InSet threshold)."""
    toks = whitespace_tokens(text_col)
    scores = {
        lang: f"size(filter({toks}, w -> {in_words('w', words)})) / size({toks})"
        for lang, words in LANG_PROFILES.items()
    }
    # deterministic argmax: fold over fixed lang order, strict > keeps first
    langs = list(LANG_PROFILES)
    pred = f"'{langs[0]}'"
    best = scores[langs[0]]
    for lang in langs[1:]:
        pred = f"CASE WHEN {scores[lang]} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {scores[lang]} > {best} THEN {scores[lang]} ELSE {best} END"
    return docs.selectExpr(
        f"`{id_col}` AS doc_id",
        *[f"round({scores[lang]}, 6) AS score_{lang}" for lang in langs],
        f"{pred} AS pred_lang",
    )


def _quality_parts(text_col: str) -> tuple[str, str, str, str, str]:
    """SQL text of (n_toks, mean_len, stop_ratio, distinct_ratio,
    score). The 179-stopword IN becomes an InSet hash lookup per token,
    where an array_contains over a literal array would scan every
    stopword."""
    toks = whitespace_tokens(text_col)
    n_toks = f"size({toks})"
    stop_ratio = f"size(filter({toks}, w -> {in_words('w', ENGLISH_STOPWORDS_SORTED)})) / {n_toks}"
    mean_len = f"aggregate({toks}, 0.0D, (acc, w) -> acc + CAST(length(w) AS DOUBLE)) / {n_toks}"
    distinct_ratio = f"size(array_distinct({toks})) / {n_toks}"
    score = (
        f"CASE WHEN {n_toks} >= 20 THEN 0.25D ELSE 0.0D END"
        f" + CASE WHEN ({mean_len}) >= 3 AND ({mean_len}) <= 10 THEN 0.25D ELSE 0.0D END"
        f" + CASE WHEN ({stop_ratio}) <= 0.5D THEN 0.25D ELSE 0.0D END"
        f" + CASE WHEN ({distinct_ratio}) >= 0.2D THEN 0.25D ELSE 0.0D END"
    )
    return n_toks, mean_len, stop_ratio, distinct_ratio, score


def quality_score_col(text_col: str = "text") -> F.Column:
    """The combined [0,1] quality score as ONE narrow column expression
    — usable inside a scan-stage filter (streaming gate, curation
    gate) with no join against quality_scores' output. The single
    source of the four 0.25 gates; quality_scores projects the same
    expression."""
    return F.expr(_quality_parts(text_col)[4])


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features: length, mean word length, stopword
    ratio, alpha ratio, distinct-token ratio + a combined [0,1] score
    (the C4/Gopher-style cheap filters)."""
    n_toks, mean_len, stop_ratio, distinct_ratio, score = _quality_parts(text_col)
    alpha_ratio = f"length(regexp_replace(`{text_col}`, '[^a-zA-Z]', '')) / length(`{text_col}`)"
    return docs.selectExpr(
        f"`{id_col}` AS doc_id",
        f"CAST({n_toks} AS BIGINT) AS n_tokens",
        f"round({mean_len}, 6) AS mean_token_len",
        f"round({stop_ratio}, 6) AS stopword_ratio",
        f"round({alpha_ratio}, 6) AS alpha_ratio",
        f"round({distinct_ratio}, 6) AS distinct_ratio",
        f"round({score}, 6) AS quality_score",
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing (Schleimer et al. 2003, the MOSS fingerprint): slide a
    window of w consecutive k-gram hashes and record each window's
    MINIMUM hash, rightmost-position tie-break — the local selection
    whose guarantee the min-k md5 sketch lacks:
    any two docs sharing a run of >= w+k-1 identical tokens share at
    least one selected fingerprint, at a density of ~2/(w+1) per gram.
    The shared-fingerprint equi-join is then the passage-level dedup
    probe that cannot miss long copies.

    Entirely in-row (shingles → md5s → nested window transform →
    distinct selections): ZERO shuffle; md5 hex compares
    lexicographically, valid as the hash order and engine-portable.

    Returns (doc_id, pos, fp) exploded and per-doc distinct: pos is
    the 0-based token index of the selected gram. Docs with fewer than
    w + k - 1 tokens (no full window) emit nothing."""
    from ontoemma_spark.operators.dedup import shingle_array, spread

    hashes = F.transform(shingle_array(text_col, k), lambda s: F.md5(s))
    m = F.size(F.col("_h"))
    # window i (1-based): hashes[i .. i+w-1]; rightmost minimum via
    # position of the first occurrence in the REVERSED window
    selections = F.transform(
        F.sequence(F.lit(1), m - F.lit(w - 1)),
        lambda i: F.struct(
            (
                i
                + F.lit(w)
                - F.array_position(
                    F.reverse(F.slice(F.col("_h"), i, w)),
                    F.array_min(F.slice(F.col("_h"), i, w)),
                )
                - F.lit(1)
            ).cast("int").alias("pos"),
            F.array_min(F.slice(F.col("_h"), i, w)).alias("fp"),
        ),
    )
    # r6: (a) spread() — the nested-window selection transform is
    # interpreted and otherwise runs in ONE task on single-split
    # corpora; (b) the no-full-window rule as a CHEAP token-count
    # predicate (m >= w ⟺ n_tokens >= w + k - 1) applied BEFORE the
    # hash projection, so the md5 array is not computed once for the
    # filter and again for the explode. Identical rows.
    return (
        spread(docs.filter(
            F.col(text_col).isNotNull()
            & (F.size(F.split(F.col(text_col), " ")) >= w + k - 1)
        ))
        .select(F.col(id_col).alias("doc_id"), hashes.alias("_h"))
        .select(
            "doc_id",
            # adjacent windows re-select the same (pos, fp) — the in-row
            # array_distinct is the whole dedup; no shuffle needed
            F.explode(F.array_distinct(selections)).alias("_s"),
        )
        .select("doc_id", F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


def document_fingerprints_narrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    k: int = 3,
) -> DataFrame:
    """Zero-shuffle fingerprint: k smallest md5(shingle) computed in-row
    (array_sort ∘ transform over the shingle array). Docs with no
    shingles (null text or fewer than w tokens) emit NO row: a
    fingerprint '' for every short doc would merge all of them as
    mutual "duplicates" in any fingerprint-keyed dedup."""
    from ontoemma_spark.operators.dedup import shingle_array

    hashes = F.array_sort(
        F.transform(F.array_distinct(shingle_array(text_col, w)), lambda s: F.md5(s))
    )
    # The absence rule as a CHEAP input predicate (r6, guide §1.2 step 2):
    # fingerprint == '' iff the doc has no shingles iff it has fewer than
    # w tokens (or null text). Filtering on the token count instead of
    # the computed fingerprint keeps the interpreted md5/sort chain out
    # of the filter — consumers that prune the projection (counts,
    # semi-joins) never pay it, and full materializations pay it once
    # (the old filter-on-derived-column shape evaluated the chain for
    # the predicate and again for the projection). Identical rows.
    return (
        docs.filter(
            F.col(text_col).isNotNull()
            & (F.size(F.split(F.col(text_col), " ")) >= w)
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_join(F.slice(hashes, 1, k), "|").alias("fingerprint"),
        )
    )


def host_boilerplate_lines(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_frac: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-host boilerplate line table: every line occurring in at
    least ``min_frac`` of a host's documents (and at least
    ``min_docs`` of them) — nav bars, cookie banners, footers. The
    CC-Net / RefinedWeb per-domain line-dedup signal: corpus-wide
    paragraph dedup (paragraph_dedup) can't catch host-local template
    lines that are globally rare.

    Lines are '\\n' splits, compared verbatim (including empty lines —
    an empty line shared across a host's pages is template structure
    too; callers who disagree filter the output). Counting is
    per-document distinct (a line repeated inside one page counts
    once).

    Output: (host, line, n_docs, host_docs). Scale shape: one narrow
    explode, two map-side-combinable grouped counts, one equi join of
    the per-line counts against the per-host totals — no window, no
    collect; at 10^12 pages both aggs partition by (host[, line]), the
    exact key the crawl is naturally bucketed by. The projected input
    is persisted MEMORY_AND_DISK (it feeds both counts — without it
    Catalyst re-scans the corpus per consumer, the r4 extract-union
    lesson; lazy result, the caller owns materialization).
    """
    from pyspark import StorageLevel

    base = docs.select(
        F.col(host_col).alias("host"), F.col(id_col).alias("_doc"),
        F.col(text_col).alias("_text"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    host_docs = base.groupBy("host").agg(
        F.count_distinct("_doc").alias("host_docs")
    )
    lines = (
        base.select(
            "host", "_doc",
            F.explode(F.split(F.coalesce("_text", F.lit("")), "\n")).alias("line"),
        )
        .distinct()
        .groupBy("host", "line")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        lines.join(host_docs, "host")
        .filter(
            (F.col("n_docs") >= F.lit(min_docs))
            & (F.col("n_docs") >= F.col("host_docs") * F.lit(min_frac))
        )
        .select("host", "line", "n_docs", "host_docs")
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    boiler: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Strip a host's boilerplate lines (from host_boilerplate_lines)
    out of each document, preserving the order of surviving lines.
    Returns (id, host, text) with text rebuilt by '\\n'-joining the
    survivors (a fully-boilerplate page becomes the empty string —
    the caller's gate decides its fate, same flags-style contract as
    curation).

    Shape: explode with posexplode (position kept), ONE left-anti
    equi join on (host, line), order restored by an in-row
    array_sort over (pos, line) structs — no window. The input is
    consumed twice (line table + the keep-every-page left join), so
    callers composing this after host_boilerplate_lines should
    persist the page projection once upstream; the operator itself
    stays lazy and persist-free to avoid double-caching the corpus
    when the caller already did.
    """
    pos_lines = docs.select(
        F.col(id_col).alias("_doc"), F.col(host_col).alias("host"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )
    kept = pos_lines.join(
        boiler.select("host", "line"), ["host", "line"], "left_anti"
    )
    rebuilt = kept.groupBy("_doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_rebuilt")
    )
    # left join back to the full doc set: a page whose EVERY line was
    # boilerplate must come back as the empty string, not vanish
    return (
        docs.select(F.col(id_col), F.col(host_col).alias("host"))
        .join(rebuilt.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col, "host",
            F.coalesce("_rebuilt", F.lit("")).alias(text_col),
        )
    )


def line_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style LINE-level quality signals (Rae et al. 2021 §A1.1
    — the line-wise complement to repetition_scores' gram filters):

      n_lines            non-empty newline-delimited lines
      dup_line_frac      fraction of lines that are repeats of an
                         earlier-seen line content, (n - distinct)/n —
                         nav menus and chrome repeat lines verbatim
      ellipsis_line_frac fraction of lines ending in '...' or '…'
                         (truncated teaser text)
      bullet_line_frac   fraction of lines starting with a bullet
                         ('-', '*', '•') — list-dominated pages

    Entirely in-row (split + array folds): ZERO shuffle, the
    10^12-doc scan-stage shape. Docs with no non-empty lines (empty/
    null text) report n_lines=0 and 0.0 fractions."""
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: x != ""
    )
    n = F.size(lines)
    nz = F.greatest(n, F.lit(1)).cast("double")  # guard 0-line docs
    dup = (n - F.size(F.array_distinct(lines))) / nz
    ell = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    ) / nz
    bul = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
        )
    ) / nz
    zero_safe = lambda c: F.when(n > 0, c).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(n, F.lit(0)).cast("bigint").alias("n_lines"),
        zero_safe(dup).alias("dup_line_frac"),
        zero_safe(ell).alias("ellipsis_line_frac"),
        zero_safe(bul).alias("bullet_line_frac"),
    )


def repetition_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", w: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition signals over w-word
    grams (Rae et al. 2021 §A1.1 "repetitious text" filters):

      n_grams        total gram occurrences in the doc
      dup_gram_frac  fraction of occurrences belonging to a gram that
                     appears more than once in the doc
      top_gram_frac  fraction taken by the single most frequent gram

    High values ⇒ boilerplate / keyword-stuffed / degenerate pages —
    the standard web-corpus cut alongside quality_scores.

    Scale: two chained aggregations, both keyed BY doc_id (first with
    gram appended) — map-side combinable, skew-free (the key always
    contains the doc id), never wider than the corpus itself. Docs with
    fewer than w tokens have no grams and drop out (no signal).
    """
    from ontoemma_spark.operators.dedup import shingle_array, spread

    # spread(): the interpreted gram explode otherwise runs in ONE task
    # on single-split corpora (guide §2.6)
    grams = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_array(text_col, w)).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_grams"),
        (F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / n).alias(
            "dup_gram_frac"
        ),
        (F.max("c") / n).alias("top_gram_frac"),
    )


def key_skew_stats(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Heavy-hitter diagnostic for shuffle-key skew — the measurement
    step before choosing salting / AQE skew-join / a broadcast cap for
    a join or aggregation key (the north rule's "skew handled
    explicitly" starts with knowing WHICH keys are hot).

    Returns the top_n keys by row count with each key's share of the
    table: (key, cnt, share), deterministically tie-broken (count
    desc, key asc). Null keys count as a key (they hash to one
    partition too — often the worst hitter).

    Shape: one map-side-combinable count agg, the 1-row total broadcast
    back (no driver collect), and a TakeOrderedAndProject top-n — no
    global sort, no window."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # grand total from the |keys|-row aggregate, NOT a second full
    # df.agg scan — on the 10^12-row tables this diagnostic targets
    # the old shape doubled the scan cost of every skew probe
    total = counts.agg(F.sum("cnt").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            (F.col("cnt") / F.col("_total")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc_nulls_last())
        .limit(top_n)
    )


def source_rollup(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Host/source-level corpus signals — the aggregation behind
    domain-level filtering (the C4/RefinedWeb pattern: drop or downweight
    whole hosts whose pages are duplicated boilerplate or low quality).

    Per source: doc count, distinct-text count, exact-duplicate rate,
    mean quality score, and the share of docs clearing quality ≥ 0.5.

    Skew: a head host can hold a huge share of a web corpus, so the
    distinct count is computed as TWO stages keyed (source, text-hash)
    then (source) — the first stage spreads the head host across
    partitions and combines map-side; a single-stage countDistinct
    would funnel every row of the head host through one task's hash set.
    The quality score is a NARROW in-row expression
    (quality_score_col), so it is computed in the same base projection
    and aggregated through the same two stages — ONE corpus scan and
    ONE corpus exchange total (a previous revision joined
    quality_scores() back on doc_id, scanning and shuffling the corpus
    twice, and ignored text_col while at it).
    """
    base = docs.select(
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("_h"),
        # per-doc rounding kept identical to quality_scores' output so
        # the rollup means are bit-for-bit what the old join produced
        F.round(quality_score_col(text_col), 6).alias("_q"),
    )
    per_text = base.groupBy("source", "_h").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("_q").alias("qs"),
        F.sum(F.when(F.col("_q") >= 0.5, 1.0).otherwise(0.0)).alias("hi"),
    )
    text_stats = per_text.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.sum("qs") / F.sum("c")).alias("avg_quality"),
        (F.sum("hi") / F.sum("c")).alias("high_quality_share"),
    )
    return text_stats.select(
        "source",
        "n_docs",
        "n_distinct",
        (1 - F.col("n_distinct") / F.col("n_docs")).alias("dup_rate"),
        "avg_quality",
        "high_quality_share",
    )


def host_of(url_col) -> F.Column:
    """Registrable host of a URL (native parse_url — no Python), the
    grouping key for web-corpus host-level rollups: pages from WARC
    have no `source` column, so `source_rollup(pages.withColumn(
    'source', host_of('url')), ...)` is the per-host filtering path."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.parse_url(c, F.lit("HOST")))


# query-string params that identify a VISIT, not a RESOURCE — the
# standard strip set for crawl canonicalization. Deliberately narrow:
# ambiguous keys like `ref` are resource-identifying on major hosts
# (GitHub/GitLab `?ref=<branch>` names different file contents), so
# stripping them would merge distinct pages. `(=|$)` also catches the
# valueless form (`?fbclid`).
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid)(=|$)"


def host_suffixes(url_col) -> F.Column:
    """Array of the URL host's domain suffixes, shortest-last:
    'a.b.example.com' → ['a.b.example.com', 'b.example.com',
    'example.com', 'com']. Narrow column expression — turns suffix
    blocklist matching into an EQUI join on the exploded suffix
    instead of a per-pattern endswith scan (which Spark can only plan
    as a nested-loop against a pattern list)."""
    host = host_of(url_col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        host.isNotNull(),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(parts, i, n), "."),
        ),
    ).otherwise(F.array().cast("array<string>"))


def url_blocklist_filter(
    pages: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Domain-blocklist filtering (the UT1/adult-list pass every crawl
    pipeline runs first): a page is dropped when ANY suffix of its
    host equals a blocklist entry — 'ads.example.com' is blocked by
    the entries 'ads.example.com', 'example.com', or 'com' (don't put
    bare TLDs in the list). Null/unparseable URLs pass (no host to
    match — gate them separately).

    Plan shape: in-row suffix expansion (host depth ≈ 3-5 entries per
    page) + ONE left-anti equi join against the blocklist — never an
    endswith nested-loop over the pattern list. Blocklists are
    100k-5M rows: under the broadcast threshold they broadcast; bigger
    lists shuffle on the suffix hash like any equi join.

    Returns the surviving pages, columns unchanged."""
    probe = pages.withColumn("_sfx", F.explode_outer(host_suffixes(url_col)))
    bl = blocklist.select(F.lower(F.col("domain")).alias("_sfx")).distinct()
    hit = (
        probe.join(bl, "_sfx", "left_semi")
        .select(url_col)
        .distinct()
    )
    return pages.join(hit, url_col, "left_anti")


def unigram_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt): whitespace-token counts over the corpus — the
    unigram model table for unigram_logprob_scores. One explode + one
    map-side-combinable count agg. Store it bucketed by token so
    repeated scoring runs co-locate."""
    return (
        docs.selectExpr(f"explode({whitespace_tokens(text_col)}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_logprob_scores(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CC-Net's LM-perplexity quality filter (Wenzek et al. 2020 §4.3)
    with the KenLM 5-gram model replaced by a unigram model — the
    documented seam: the relational shape (token table join + per-doc
    mean) is identical, and a trained LM table drops in as `vocab`
    with log-probs instead of counts. Gibberish and non-language pages
    score far below prose; thresholding on mean_logprob is the gate.

      token logprob = ln(cnt_t / total)
      OOV           = ln(1 / (total + |V|))   (add-one-style floor)
      doc score     = mean over the doc's tokens

    vocab=None fits the unigram table from `docs` itself (the CC-Net
    move: score each shard against the corpus model).

    Scale shape: explode is narrow; the token join shuffles on the
    token (hyper-common tokens are the skew path — AQE skew-join
    handles them; a stopword-capped vocab would broadcast); the
    re-aggregation per doc is map-side combinable. Docs with no
    tokens (null text) are absent, like the other text-keyed ops.

    Returns (doc_id, n_tokens, n_oov, mean_logprob)."""
    if vocab is None:
        from pyspark import StorageLevel

        # the self-fit vocab feeds BOTH the totals agg and the token
        # join; unpersisted, the corpus-wide explode+count runs twice
        # (lazy result, caller owns materialization)
        vocab = unigram_vocab(docs, text_col=text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    totals = vocab.agg(
        F.sum("cnt").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(whitespace_tokens(text_col))).alias("token"),
    )
    scored = (
        toks.join(vocab, "token", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.col("cnt").isNull().cast("bigint").alias("oov"),
            F.when(
                F.col("cnt").isNotNull(), F.log(F.col("cnt") / F.col("_total"))
            )
            .otherwise(F.log(F.lit(1.0) / (F.col("_total") + F.col("_v"))))
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
        F.avg("lp").alias("mean_logprob"),
    )


# latin-1/latin-ext accented letters and their ASCII folds — the
# deterministic, engine-portable subset (translate() in both Spark and
# DuckDB); full Unicode NFD folding would need an ICU dependency.
_ACCENTS = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_ACCENT_FOLDS = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def dedup_normalize_col(text_col="text") -> F.Column:
    """CC-Net-style text normalization BEFORE dedup hashing (Wenzek et
    al. 2020 §4.1): lowercase, fold common accents, map every digit run
    to 0 (dates/ids/counters differ between otherwise-identical
    boilerplate), strip punctuation to spaces, collapse whitespace.
    Near-identical pages then collapse under EXACT hashing — the cheap
    trick that catches most near-dups before MinHash ever runs.

    Narrow column expression (translate + regexps): zero shuffle,
    engine-portable (the DuckDB twin uses the same translate map)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    folded = F.lower(F.translate(c, _ACCENTS, _ACCENT_FOLDS))
    digits0 = F.regexp_replace(folded, "[0-9]+", "0")
    unpunct = F.regexp_replace(digits0, r"[^a-z0 ]+", " ")
    return F.trim(F.regexp_replace(unpunct, " +", " "))


def latest_snapshot(
    pages: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Keep the NEWEST crawl snapshot per key (re-crawled URLs appear
    once per fetch in a crawl archive; downstream wants one row). One
    map-side-combinable max(struct(ts, payload…)) per key — the
    mirror of paragraph_dedup's min-struct first-occurrence, never a
    row_number window over a hot URL's snapshot list. Ties on ts
    resolve by the struct's remaining columns (deterministic).

    Returns one row per key with the winning snapshot's columns."""
    others = [c for c in pages.columns if c != key_col]
    packed = pages.groupBy(key_col).agg(
        F.max(F.struct(ts_col, *[c for c in others if c != ts_col])).alias("_w")
    )
    return packed.select(
        key_col, *[F.col(f"_w.{c}").alias(c) for c in [ts_col] + [c for c in others if c != ts_col]]
    )


def normalize_url(url_col) -> F.Column:
    """Canonical URL for crawl-level exact dedup (the first dedup pass
    of every Common-Crawl pipeline: the same page is fetched under
    http/https, with/without www, with tracking params, with a
    trailing slash — all one resource). Entirely native column work:

      * scheme dropped (http vs https never distinguishes a page),
      * host lowercased, leading "www." stripped,
      * explicit NON-default port kept (host:8080 and host are
        DIFFERENT resources; Spark's parse_url HOST silently excludes
        the port, so it is re-extracted from the authority). Default
        ports (:80 on http, :443 on https) are stripped — with the
        scheme dropped they denote the same resource as no port,
      * path kept case-SENSITIVE (paths are), trailing slashes
        stripped,
      * fragment dropped (parse_url QUERY never includes it),
      * tracking params (utm_*, fbclid, gclid — see _TRACKING_PARAM_RE
        for why the set is deliberately narrow) removed and the
        surviving params SORTED so param order never splits a group.

    Narrow expression — canonical-URL dedup at 10^12 pages is
    one hash-groupBy on this column, map-side combinable.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.regexp_replace(
        F.lower(F.coalesce(F.parse_url(c, F.lit("HOST")), F.lit(""))),
        r"^www\.", "",
    )
    scheme = F.lower(F.coalesce(F.parse_url(c, F.lit("PROTOCOL")), F.lit("")))
    port = F.regexp_extract(
        F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1),
        r":(\d+)$", 1,
    )
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    host = F.when(
        (port != "") & ~default_port, F.concat(host, F.lit(":"), port)
    ).otherwise(host)
    path = F.regexp_replace(
        F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit("")), r"/+$", ""
    )
    params = F.filter(
        F.split(F.coalesce(F.parse_url(c, F.lit("QUERY")), F.lit("")), "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        host, path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def anchor_text_profile(
    links: DataFrame,
    dst_col: str = "dst_host",
    anchor_col: str = "anchor_text",
    top_k: int = 3,
) -> DataFrame:
    """Per-target anchor-text profile: the top-k most frequent anchor
    tokens pointing at each destination — the classic web-graph signal
    KG pipelines use to name/alias entities (what the web *calls* a
    page beats what the page calls itself).

    Output: (dst, token, n, rank), rank 1..top_k per dst, ties broken
    lexicographically so the result is deterministic.

    Scale: tokenize+explode is narrow; the (dst, token) count is ONE
    map-side-combinable exchange — a head destination's counts
    partial-aggregate in the scan stage, so the shuffle carries one
    row per (partition, dst, token), not one per link. The top-k
    window runs on the aggregated table (bounded by |dst vocab| x
    |token vocab per dst|, already orders of magnitude smaller than
    the link table); window skew is bounded by per-dst distinct
    anchor-token vocabulary, not link count."""
    toks = links.select(
        F.col(dst_col).alias("dst"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(anchor_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    counts = toks.groupBy("dst", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("dst").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
