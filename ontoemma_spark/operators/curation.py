"""Corpus-curation operators for training-data pipelines: PII
redaction, deterministic mixture sampling, and sequence packing.

These are the stages between "raw deduped webtext" and "tokenizer
input" in an LLM data pipeline (the ROOTS/Dolma-style curation pass);
the reference has no analog — they belong to the beyond-the-reference
operator family the brief makes first-class.

All hot paths are native column expressions; sequence packing is the
one genuinely sequential-per-group computation and runs as a
deterministic Arrow applyInPandas keyed by an EXPLICIT group column
(never by physical partition — results must not depend on the
cluster's partitioning).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Conservative patterns chosen to behave identically under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

_PII = [("email", EMAIL_RE, "<EMAIL>"), ("phone", PHONE_RE, "<PHONE>"),
        ("ip", IPV4_RE, "<IP>")]


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses, replacing each
    with a typed placeholder token, and count hits per class.

    Returns (doc_id, text, n_email, n_phone, n_ip) with text redacted.
    Pure narrow regexp_replace/extract_all column math — runs inside
    the scan stage at any corpus size, zero shuffle, zero Python.
    """
    out = F.col(text_col)
    counts = []
    for name, pat, repl in _PII:
        # null text → null extract array; report 0 hits, not null
        counts.append(
            F.coalesce(F.size(F.regexp_extract_all(out, F.lit(pat), 0)), F.lit(0))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, out.alias("text")
    )


def mixture_sample(
    docs: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source mixture sampling (the Pile/Dolma-style
    source weighting): keep each doc with its source's probability,
    decided by a salted content hash — stable across runs, machines,
    and partitionings, so a resumed or re-sharded job keeps exactly
    the same documents.

    weights: (source, weight) with weight in [0, 1]. The draw is
    md5("mix:" || doc_id) compared lexicographically against the weight's
    8-hex-digit threshold — string comparison is engine-portable
    (identical in Spark, DuckDB, Python), unlike float division of
    hash ints.

    Scale: weights is sources-sized (thousands of hosts at most) →
    broadcast; the draw is narrow. No shuffle of the corpus.

    Sources with no weights row are KEPT (weight 1.0): dropping whole
    sources because the weights table is partial would be silent data
    loss — pass weight 0.0 explicitly to exclude a source.
    """
    # weight → 8-hex-digit threshold; weight ≥ 1.0 would need 9 digits
    # ('100000000'), so it maps to a sentinel above every hex draw.
    # weight clamped into [0, 1] BEFORE the hex conversion: conv() of
    # a negative bigint yields unsigned two's-complement and the
    # lpad-to-8 keeps its leading 'ffffffff' — a negative weight (bad
    # upstream arithmetic) would silently invert into keep-everything
    w_clamped = F.least(F.greatest(F.col("weight"), F.lit(0.0)), F.lit(1.0))
    thresh = F.when(w_clamped >= 1.0, F.lit("zzzzzzzz")).otherwise(
        F.lower(
            F.lpad(
                F.conv(
                    F.floor(w_clamped * F.lit(float(16**8)))
                    .cast("bigint")
                    .cast("string"),
                    10,
                    16,
                ),
                8,
                "0",
            )
        )
    )
    w = weights.select(
        F.col("source").alias(source_col), thresh.alias("_thresh")
    )
    draw = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))), 1, 8
    )
    return (
        docs.join(F.broadcast(w), source_col, "left")
        .filter(draw < F.coalesce(F.col("_thresh"), F.lit("zzzzzzzz")))
        .drop("_thresh")
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source TOKEN-budget sampling — the "take N
    tokens from each source" mixture op (vs mixture_sample's keep-
    probability form, which controls doc counts, not token mass):
    docs are admitted in md5("budget:" || doc_id) order until the
    source's budget is exhausted. Admission rule: a doc is kept iff the
    tokens admitted BEFORE it are under budget — the boundary-crossing doc is
    included (soft cap; budgets land within one doc of exact). The
    hash order makes the selection stable across runs, machines and
    partitionings, and independent of input order. A null-text doc
    counts ZERO tokens (coalesced) and is admitted under the same rule
    as everything else — without the coalesce a null n_tokens made
    `tokens_before < budget` evaluate to null and silently dropped the
    doc, but only for budgeted sources (r4 ADVICE); admission policy
    stays the caller's, consistently.

    budgets: (source, token_budget). Sources with NO budgets row keep
    everything (left join — same partial-table semantics as
    mixture_sample's weights); budget 0 drops the source.

    Scale: budgets is sources-sized → broadcast; the running total is
    ONE window sum per source (sort by the 8-hex draw inside each
    source partition — the best_match/top-k shape; a pathological
    mega-source is the window's skew case, the same one every
    per-source top-k has). Returns the kept docs + (n_tokens,
    tokens_before) for audit."""
    draw = F.substring(
        F.md5(F.concat(F.lit("budget:"), F.col(id_col).cast("string"))), 1, 16
    )
    # '' splits to [''] (size 1) — an empty doc must cost 0 tokens,
    # same as null, or the admission accounting is inconsistent
    n_tok = F.when(
        F.coalesce(F.col(text_col), F.lit("")) == "", F.lit(0).cast("bigint")
    ).otherwise(F.size(F.split(F.col(text_col), " ")).cast("bigint"))
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("_draw"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = budgets.select(
        F.col("source").alias(source_col),
        F.col("token_budget").cast("bigint").alias("_budget"),
    )
    out = (
        docs.withColumn("_draw", draw)
        .withColumn("n_tokens", n_tok)
        .withColumn("tokens_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .join(F.broadcast(b), source_col, "left")
        .filter(F.col("_budget").isNull() | (F.col("tokens_before") < F.col("_budget")))
    )
    return out.select(*docs.columns, "n_tokens", "tokens_before")


def leakage_safe_split(
    docs: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Group-leakage-safe 90/5/5 train/dev/test assignment: EVERY page of
    a registrable host lands in the same split, decided by a salted hash
    of the HOST, not the document. Near-duplicate pages overwhelmingly
    share a host (templated articles, mirrored paths), so a per-doc
    split would leak paraphrases of held-out text into train — the
    standard web-corpus failure mode the "split by domain" rule
    prevents.

    Hash assignment (vs the exact-quantile stratified
    training.train_dev_test_split) is a deliberate trade for the
    10^12-page regime:
      * ZERO shuffle — one narrow expression per row, no groupBy(host),
        no window, no join;
      * INCREMENTALLY STABLE — a host's split depends only on
        md5("split:" || host), so re-running after a new crawl batch never
        moves an existing host (append-only splits; quantile splits
        reshuffle the boundary every time the corpus grows);
      * split sizes are proportional in expectation over hosts (law of
        large numbers), not exact — the right side of the trade when a
        0.1% size error is irrelevant and a moved host invalidates an
        eval set.

    The draw compares 8 hex digits lexicographically against
    precomputed thresholds — engine-portable (Spark / DuckDB / Python
    agree), same device as mixture_sample.

    Adds (host, split) columns; split ∈ {train, dev, test}. Null/
    unparseable URLs hash as host '' (one deterministic bucket).
    """
    from ontoemma_spark.operators.textstats import host_of

    t_train = format(int(0.9 * 16**8), "08x")
    t_dev = format(int((0.9 + 0.05) * 16**8), "08x")
    host = F.coalesce(host_of(url_col), F.lit(""))
    draw = F.substring(F.md5(F.concat(F.lit("split:"), host)), 1, 8)
    return docs.withColumn("host", host).withColumn(
        "split",
        F.when(draw < t_train, "train")
        .when(draw < t_dev, "dev")
        .otherwise("test"),
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    n_groups: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing: fill fixed-capacity training contexts
    with whole documents (first-fit in doc-id order), the standard
    pretraining batch-prep step.

    Documents are assigned to n_groups EXPLICIT groups by id hash (or
    a caller-supplied group_col) — packing runs independently per
    group, so the result is deterministic for a given (corpus,
    max_tokens, grouping) no matter how the cluster partitions the
    data. Within a group, docs are taken in doc_id order; a doc that
    does not fit the open bin closes it. Docs longer than max_tokens
    get a bin of their own (never split — splitting is the tokenizer's
    job downstream).

    Returns (grp, bin_idx, doc_id, n_tokens, bin_fill): one row per
    doc, with bin_fill the bin's running total after the doc. Bins are
    (grp, bin_idx)-scoped.

    Scale: one shuffle keyed by the group hash; each group's packing
    is a single in-memory pass over its docs inside an Arrow batch, so
    the group size bounds task memory. n_groups=None (default)
    auto-sizes from a corpus count so each group holds ~50,000 docs — a
    fixed default would silently build 10^10-doc Arrow batches at 10^12
    docs. Pass n_groups explicitly to skip the count
    pass when the corpus size is already known.
    """
    if group_col is None and n_groups is None:
        n_groups = max(16, -(-docs.count() // 50_000))  # ceil
    # '' splits to [''] (size 1); an empty doc has nothing to pack and
    # must not occupy bin capacity — count it 0 so the filter drops it
    toks = F.when(
        F.coalesce(F.col(text_col), F.lit("")) == "", F.lit(0).cast("bigint")
    ).otherwise(F.size(F.split(F.col(text_col), " ")).cast("bigint"))
    grp = (
        F.col(group_col).cast("bigint")
        if group_col is not None
        else F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_groups)).cast(
            "bigint"
        )
    )
    base = docs.select(
        grp.alias("grp"),
        F.col(id_col).alias("doc_id"),
        toks.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)  # null/empty text has nothing to pack

    # doc_id keeps the caller's id type (url-keyed WARC pages are
    # strings; the synthetic tables use bigint) — packing is id-type-
    # agnostic, only the sort order matters.
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = (
        f"grp bigint, bin_idx bigint, doc_id {id_type}, n_tokens bigint, "
        "bin_fill bigint"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bins, fills = [], []
        bin_idx, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > max_tokens:
                bin_idx += 1
                fill = 0
            fill += n
            bins.append(bin_idx)
            fills.append(fill)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf[["grp", "bin_idx", "doc_id", "n_tokens", "bin_fill"]]

    return base.groupBy("grp").applyInPandas(pack, schema=schema)


def pack_sequences_py(
    rows: list[tuple[int, int, int]], max_tokens: int
) -> list[tuple[int, int, int, int, int]]:
    """Pure-python spec of pack_sequences for property tests. The
    xxhash64 group assignment is not reproducible in pure python, so
    the spec takes pre-grouped input rows = [(group, doc_id,
    n_tokens)] and returns [(group, bin_idx, doc_id, n_tokens,
    bin_fill)]."""
    from collections import defaultdict

    by_group: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for g, d, n in rows:  # type: ignore[misc]
        by_group[g].append((d, n))
    out = []
    for g, docs in by_group.items():
        bin_idx, fill = 0, 0
        for d, n in sorted(docs):
            if fill > 0 and fill + n > max_tokens:
                bin_idx += 1
                fill = 0
            fill += n
            out.append((g, bin_idx, d, n, fill))
    return out


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-length token chunking — the other half of context
    preparation (pack_sequences packs SHORT docs up to max_tokens;
    this splits LONG docs down to it): doc → chunks of max_tokens
    whitespace tokens at stride max_tokens - overlap, the last chunk
    keeping whatever remains (never empty, never duplicated: a doc
    with n <= max_tokens yields exactly one chunk — itself).

    Output (doc_id, chunk_idx, text, n_tokens); chunk text is the
    space-joined token slice (split-on-space is lossless, so
    single-chunk docs reproduce byte-identical and chunk boundaries
    never corrupt intra-token bytes). Null-text docs are absent.

    Scale: ZERO shuffle — one in-row transform + posexplode; the
    fan-out (≈ n/stride rows per doc) happens inside the scan stage,
    so run any per-chunk scoring right here before an exchange."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"overlap must be in [0, max_tokens), got {overlap}")
    stride = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, … while start < n AND the
    # chunk adds new tokens beyond the previous one (start + overlap <
    # n guards a trailing chunk that would be a pure suffix re-emit)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, max_tokens),
    )
    out = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("chunk_idx", "_chunk"),
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.col("_chunk"), " ").alias(text_col),
        F.size(F.col("_chunk")).cast("bigint").alias("n_tokens"),
    )


def pre_dedup_paragraph_stage(docs: DataFrame) -> DataFrame:
    """curate_corpus stage 0 (opt-in): corpus-wide paragraph dedup,
    explicit drop of docs that rebuilt empty (an empty doc would
    otherwise score exactly 0.5 on the quality gate: zero stopwords
    and trivially-distinct tokens both pass), and the doc_id join that
    carries every non-text column (source for sampling, the caller's
    pack group, ...) onto the rebuilt text. Shared by curate_corpus
    and the curate_stage0 oracle query so the two cannot drift."""
    from ontoemma_spark.operators import dedup as D

    rebuilt = (
        D.paragraph_dedup(docs)
        .filter(F.col("text") != "")  # all-boilerplate docs are gone
        .select("doc_id", "text")
    )
    return rebuilt.join(docs.drop("text"), "doc_id")


def gate_quality_repetition(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_dup_gram_frac: float = 0.3,
    w: int = 2,
) -> DataFrame:
    """curate_corpus stage 1: the quality + repetition gate. Quality is
    a narrow in-row expression — filtering in the scan stage, NOT a
    join against quality_scores' projection (which would shuffle the
    whole corpus twice for a value computable per row); the repetition
    side genuinely needs its per-gram aggregation. Gram-less docs pass
    the repetition gate (left join, null dup_gram_frac)."""
    from ontoemma_spark.operators.textstats import quality_score_col, repetition_scores

    rep = repetition_scores(docs, w=w).select("doc_id", "dup_gram_frac")
    return (
        docs.withColumn("_q", quality_score_col("text"))
        .join(rep, "doc_id", "left")
        .filter(
            (F.col("_q") >= min_quality)
            & (
                F.col("dup_gram_frac").isNull()
                | (F.col("dup_gram_frac") < max_dup_gram_frac)
            )
        )
        .select(*docs.columns)
    )


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    weights: DataFrame,
    max_tokens: int = 256,
    min_quality: float = 0.5,
    max_dup_gram_frac: float = 0.3,
    min_jaccard: float = 0.5,
    shingle_w: int = 2,
    num_hashes: int = 4,
    bands: int = 2,
    max_band_df: int | None = None,
    decontam_w: int = 5,
    pack_group_col: str | None = None,
    n_pack_groups: int | None = None,
    pack_groups_by_mod: bool = False,
    pre_dedup_paragraphs: bool = False,
) -> DataFrame:
    """The full corpus-curation pass, composed from the family's
    operators in the order a production pipeline runs them:

      0. (opt-in, pre_dedup_paragraphs) paragraph-level dedup — the
         CC-Net stage-0: corpus-wide repeated paragraphs (boilerplate)
         drop BEFORE any scoring, so the quality/repetition gates and
         the MinHash signatures see boilerplate-free text. Docs whose
         every paragraph was boilerplate rebuild to "" and are dropped
         here (the explicit length decision paragraph_dedup delegates
         to its caller — an empty doc would otherwise score 0.5 on the
         quality gate: zero stopwords and trivially-distinct tokens
         both pass). Off by default (changes doc text — the caller
         opts into the rewrite);
      1. quality + repetition gate (cheap narrow filters first —
         shrink the corpus before anything that joins);
      2. benchmark decontamination (broadcast gram probe);
      3. near-duplicate resolution (MinHash-LSH pairs → CC clusters →
         canonical survivors);
      4. deterministic mixture sampling (source weights);
      5. PII redaction;
      6. greedy sequence packing into max_tokens contexts.

    Returns the packed result: (grp, bin_idx, doc_id, n_tokens,
    bin_fill) over the surviving documents. Each stage is the
    already-tested operator — this is composition, not new math.

    Stage order is a scale decision: the narrow per-doc gates run
    first so the LSH self-join and CC see the smallest possible doc
    set; decontamination precedes dedup so a contaminated canonical
    cannot shadow a clean duplicate; sampling follows dedup so source
    weights apply to unique content, not duplicate multiplicity.

    Cache lifetime: the gated+decontaminated doc set stays persisted
    until the returned plan is consumed (it feeds both the eager CC
    materialization and the lazy tail); after materializing the
    result, release it with spark.catalog.clearCache() in long-lived
    sessions.
    """
    from ontoemma_spark.operators import dedup as D

    # spread(): every stage-1 gate expression is narrow per-row compute;
    # on a single-split corpus it would all run in ONE scan task
    # (guide §2.6) — buy the parallelism once, at the top
    docs = D.spread(docs)
    if pre_dedup_paragraphs:
        docs = pre_dedup_paragraph_stage(docs)
    gated = gate_quality_repetition(
        docs, min_quality=min_quality,
        max_dup_gram_frac=max_dup_gram_frac, w=shingle_w,
    )

    from pyspark import StorageLevel

    # gated is consumed twice in the first job (the contamination probe
    # and the clean join) and its quality gate is a narrow interpreted
    # HOF with no exchange boundary — nothing for ReusedExchange to
    # dedupe, so without a cache the gate chain executes per consumer.
    gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
    sh = sig = None
    try:
        cont = D.contamination_hits(gated, benchmark, w=decontam_w)
        # persist: clean feeds the shingling pass, the CC map-back, and
        # the survivor join, and the CC inside resolve_duplicate_clusters
        # materializes eagerly — without the cache the gate→decontaminate
        # subplan re-executes per consumer.
        clean = gated.join(
            cont.filter("NOT contaminated").select("doc_id"), "doc_id"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # one cached shingling pass + exploded-codegen signatures, the
        # exact structure the LSH dedup query uses (shared helper so the
        # two paths cannot drift); sh feeds BOTH the signatures and the
        # rescore join, sig feeds both band self-join sides.
        sh, sig = D.cached_shingle_signatures(
            clean, w=shingle_w, num_hashes=num_hashes
        )
        # fused band-join + exact-jaccard rescore kernel (r6): identical
        # rows to lsh_candidate_pairs → rescore_jaccard_pairs (its
        # in-kernel fallback above the postings guard), same rows as the
        # LSH dedup query's pair step
        pairs = D.lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=num_hashes, bands=bands,
            min_jaccard=min_jaccard, max_band_df=max_band_df,
        )
        resolved = D.resolve_duplicate_clusters(clean, pairs)
    finally:
        # resolve materializes CC eagerly (checkpointed labels) as its
        # last step, so on success every consumer of sh/sig/gated has
        # run: pairs (sh's and sig's last reader) fed CC, and clean's
        # cache was populated during that same first job, after which
        # every later consumer reads clean. On failure the same
        # unpersists stop the caches leaking into a session that
        # retries. clean stays cached either way: the lazy result
        # below still reads it (release with spark.catalog.clearCache()
        # after materializing, per the docstring).
        if sh is not None:
            sh.unpersist()
        if sig is not None:
            sig.unpersist()
        gated.unpersist()
    unique_docs = clean.join(
        resolved.filter("is_canonical").select("doc_id"), "doc_id"
    )

    sampled = mixture_sample(unique_docs, weights)
    redacted = redact_pii(sampled).select("doc_id", "text")
    if pack_group_col is not None:
        # redact_pii projects (doc_id, counts, text) — re-attach the
        # caller's group column so the packing key survives redaction
        redacted = redacted.join(
            sampled.select("doc_id", pack_group_col), "doc_id"
        )
    if pack_groups_by_mod:
        # doc_id % n groups: SQL-twin-expressible (the default xxhash64
        # grouping is the production path); needs an explicit group count
        if n_pack_groups is None:
            raise ValueError("pack_groups_by_mod requires n_pack_groups")
        redacted = redacted.withColumn(
            "_grp", F.col("doc_id") % n_pack_groups
        )
        return pack_sequences(redacted, max_tokens=max_tokens, group_col="_grp")
    return pack_sequences(
        redacted,
        max_tokens=max_tokens,
        group_col=pack_group_col,
        n_groups=n_pack_groups,
    )
