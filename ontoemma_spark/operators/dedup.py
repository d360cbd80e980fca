"""Large-scale training-data deduplication operators over a documents
table (doc_id, text, ...).

These are the web-scale companions of the reference's alias-set exact
matching (emma/OntoEmma.py:506-540) and n-gram blocking
(emma/CandidateSelection.py:67-71) — dedup at corpus scale instead of
entity scale.

Hash choice: md5 (hex string) everywhere. Reason: md5 is available with
identical output in Spark, DuckDB, and Python, so every operator here is
oracle-checkable bit-for-bit; and MinHash only needs an order-preserving
uniform hash, which lexicographic min over md5 hex provides.

Scale notes:
  * exact dedup: one hash-groupBy, map-side combinable.
  * shingling: narrow (posexplode + window per doc; window is within a
    partition keyed by doc — no cross-doc shuffle beyond the groupBys).
  * MinHash/LSH: per-doc signatures aggregate map-side; the band join is
    an equi-join on band hash (bounded fan-out by construction).
  * pairwise n-gram jaccard: the shared-shingle self-join is the skewed
    path (Σ df² fan-out); below the driver gate the broadcast-postings
    kernel never materializes it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontoemma_spark.session import driver_row_cap


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the input is a NARROW-FROM-SCAN plan with fewer partitions (guide
    §2.6/§6: a single-file, single-row-group parquet scan is one task,
    so any narrow per-row compute downstream — interpreted higher-order
    shingling above all — serializes on one core of local[N]). No-op
    when the input already has enough splits, so no shuffle is added at
    real scale where scans arrive in hundreds of file splits. The
    shuffled bytes are the raw input rows (pre-explosion), i.e. the
    cheapest place to buy parallelism.

    Plans that already contain an Exchange are left untouched WITHOUT
    inspecting their partitioning: post-shuffle width is governed by
    shuffle_partitions/AQE already, and — measured r6 — calling
    `.rdd.getNumPartitions()` on an AQE plan with exchanges EXECUTES the
    upstream query stages to finalize the plan, silently running the
    whole subquery once before the real action does (curate_stage0
    4.2s → 6.7s from exactly this)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            return df
        # exchange-free plan: nothing can execute; partition inspection
        # is pure metadata (file splits)
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: unplannable input
        return df
    return df.repartition(par) if n < par else df


def shingle_array(text_col, w: int = 3) -> Column:
    """Array of w-word shingles as a NARROW column expression — no
    explode, no window, no shuffle. Per-doc sketches (MinHash, SimHash)
    build on this so sketching 10^12 docs is map-only."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(c, " ")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(w - 1)),
        lambda i: F.array_join(F.slice(toks, i, w), " "),
    )
    # sequence(1, n) with n < 1 counts DOWN — guard short texts explicitly
    return F.when(F.size(toks) >= w, shingles).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
) -> DataFrame:
    """Distinct (doc_id, shingle) exploded form — for the RELATIONAL
    consumers (shared-shingle blocking join, pairwise jaccard). Sketches
    should use shingle_array instead (narrow)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_array(text_col, w)).alias("shingle"),
    ).distinct()


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    representative (min id) and duplicate count. Null-text docs are
    EXCLUDED — md5(NULL) is NULL and groupBy would otherwise collapse
    every failed-extraction doc into one phantom duplicate group (a
    missing text is unknown, not equal to other missing texts)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Per doc: num_hashes MinHash values, hash_k = min(md5(k || ':' ||
    shingle)) — lexicographic min over the md5 hex string is a valid
    min-wise hash family member per seed k. (Exploded-input form; use
    minhash_signatures_narrow when starting from the docs table.)"""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle")))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_signatures_narrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash with ZERO shuffle: the per-seed min runs inside the row
    over the shingle array (array_min ∘ transform). Identical values to
    minhash_signatures; this is the 10^12-doc path — sketching never
    leaves the scan stage."""
    sh = F.array_distinct(shingle_array(text_col, w))

    def seeded_md5(k: int):
        # NB: a `lambda s, k=k` would be treated by transform() as the
        # two-arg (element, index) form, silently replacing k with the
        # element index — hence this closure factory.
        return lambda s: F.md5(F.concat(F.lit(f"{k}:"), s))

    cols = [
        F.array_min(F.transform(sh, seeded_md5(k))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return docs.select(F.col(id_col).alias("doc_id"), *cols)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature rows per LSH band; refuses an indivisible split."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}: the "
            f"trailing {num_hashes % bands} hashes would silently never "
            "enter any band, changing the LSH operating point"
        )
    return num_hashes // bands


def band_hashes(
    signatures: DataFrame, num_hashes: int = 8, bands: int = 2
) -> DataFrame:
    """(doc_id, band_idx, band_hash): the stacked LSH band table of a
    signature set (rows per band = num_hashes/bands) — the structure
    both the self-join (lsh_candidate_pairs) and the batch-vs-corpus
    probe (incremental_dedup) bucket on.

    Docs with NO shingles (shorter than the shingle width) carry
    all-NULL signatures in the narrow sketch form; they are excluded
    up front — otherwise every such doc would share the md5('')
    band hash and one bucket would go quadratic at corpus scale.

    Single-pass stacking (posexplode over the band array) — a union of
    per-band selects would recompute the signature plan once per band
    per consumer."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    signatures = signatures.filter(F.col("h0").isNotNull())
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return signatures.select("doc_id", *band_cols).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def drop_hot_bands(stacked: DataFrame, max_band_df: int) -> DataFrame:
    """The LSH skew guard (mirror of substring_dup_pairs' max_gram_df,
    dedup.py ~:383): drop band hashes whose document frequency exceeds
    max_band_df via a broadcast ANTI-join. A degenerate band — empty
    or boilerplate docs all hashing their band identically — is
    quadratic in bucket size *in output cardinality*: a 10^6-doc hot
    band emits 10^12 candidate pairs, and AQE fixes the shuffle, not
    the fan-out. The over-limit set is tiny by definition (only bands
    above the cap), so the anti side always broadcasts; a dropped band
    is one you don't want pairing on anyway."""
    hot = (
        stacked.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .filter(F.col("bdf") > max_band_df)
        .select("band_idx", "band_hash")
    )
    return stacked.join(F.broadcast(hot), ["band_idx", "band_hash"], "left_anti")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    max_band_df: int | None = None,
) -> DataFrame:
    """Band the signature (rows = num_hashes/bands) and bucket-join:
    pairs agreeing on ANY full band are near-duplicate candidates.
    Output: (doc_a, doc_b) with doc_a < doc_b, distinct.

    max_band_df caps hot bands before the self-join (drop_hot_bands);
    at corpus scale ALWAYS set it — fan-out per band is its document
    frequency, and an uncapped boilerplate band is quadratic.

    When the cap is set the banded table feeds FOUR branches (the
    cap's agg + anti-join, then both self-join sides) and its lineage
    reaches back through the minhash/shingle pipeline — persisted
    MEMORY_AND_DISK so one action computes the signatures once, not 4x
    (lazy result, the caller owns materialization). Uncapped, the two
    self-join consumers re-run only the narrow posexplode over
    `signatures` (typically already persisted by minhash_signatures),
    which is cheaper than caching — measured, so no persist there."""
    stacked = band_hashes(signatures, num_hashes=num_hashes, bands=bands)
    if max_band_df is not None:
        from pyspark import StorageLevel

        stacked = stacked.persist(StorageLevel.MEMORY_AND_DISK)
        stacked = drop_hot_bands(stacked, max_band_df)
    a = stacked.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b_side = stacked.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    return (
        a.join(b_side, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def dedup_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    max_band_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The persistent dedup state a production ingest maintains between
    crawl batches: (content-hash set, LSH band-membership set) of
    everything already admitted.

      hashes: (content_hash)        — md5(text), distinct
      bands:  (band_idx, band_hash) — distinct band memberships (no
              doc_id: the probe only asks "seen?", so the state is the
              band VOCABULARY — far smaller than the per-doc table)

    At 10^12 docs both are corpus-scale tables: store each as a table
    bucketed by its join key (content_hash / band_hash) so every future
    batch probe co-locates and only the batch side shuffles.

    max_band_df (measured over this corpus slice, per-doc memberships
    BEFORE the vocabulary distinct) excludes boilerplate bands from
    the state: a band that already matches >max_band_df admitted docs
    flags every future batch doc carrying it as near-dup — noise, not
    signal — and is exactly the band lsh_candidate_pairs would cap."""
    hashes = docs.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    sig = minhash_signatures_narrow(
        docs, text_col=text_col, id_col=id_col, w=w, num_hashes=num_hashes
    )
    stacked = band_hashes(sig, num_hashes=num_hashes, bands=bands)
    if max_band_df is not None:
        # the cap's agg + anti-join consume the banded table twice,
        # doubling the minhash pipeline — persist (lazy result, the
        # caller owns materialization)
        from pyspark import StorageLevel

        stacked = stacked.persist(StorageLevel.MEMORY_AND_DISK)
        stacked = drop_hot_bands(stacked, max_band_df)
    bands_df = stacked.select("band_idx", "band_hash").distinct()
    return hashes, bands_df


def incremental_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    seen_bands: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Batch-vs-corpus dedup — the incremental-ingest shape (a new
    crawl batch against the state of everything already admitted),
    complementing the batch-internal ops (exact_duplicates, LSH):

      exact_dup: the doc's content hash is already in seen_hashes;
      near_dup:  ANY of the doc's LSH band hashes is in seen_bands
                 (same banding as lsh_candidate_pairs — a band
                 collision is the standard near-dup candidate signal;
                 an exact dup of a banded doc trivially collides, so
                 its near_dup is true too when bands are probed).

    Returns new_docs + (content_hash, exact_dup, near_dup) — FLAGS,
    not a filtered set: admission policy (drop near-dups vs rescore
    them) is the caller's, and flagged output keeps the decision
    auditable. Batch-INTERNAL duplicates are deliberately not flagged
    here — run the batch ops for that, then fold the admitted batch
    into the state (union of dedup_state outputs).

    Scale: both probes are equi joins keyed on content_hash /
    (band_idx, band_hash), |batch|-sized on the probe side; with the
    state tables bucketed on those keys (dedup_state's contract) only
    the batch shuffles. Nothing here scans more than the
    already-materialized state."""
    seen = seen_hashes.select("content_hash").distinct().withColumn(
        "_exact", F.lit(True)
    )
    out = (
        new_docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .join(seen, "content_hash", "left")
    )
    if seen_bands is not None:
        sig = minhash_signatures_narrow(
            new_docs, text_col=text_col, id_col=id_col, w=w, num_hashes=num_hashes
        )
        stacked = band_hashes(sig, num_hashes=num_hashes, bands=bands)
        hits = (
            stacked
            .join(
                seen_bands.select("band_idx", "band_hash").distinct(),
                ["band_idx", "band_hash"],
                "left_semi",
            )
            .select(F.col("doc_id").alias(id_col))
            .distinct()
            .withColumn("_near", F.lit(True))
        )
        out = out.join(hits, id_col, "left")
        near = F.coalesce(F.col("_near"), F.lit(False))
    else:
        near = F.lit(False)
    return out.select(
        *new_docs.columns,
        "content_hash",
        F.coalesce(F.col("_exact"), F.lit(False)).alias("exact_dup"),
        near.alias("near_dup"),
    )


# SimHash width: one bit from each of the first SIMHASH_BITS md5 hex nibbles
SIMHASH_BITS = 16


def simhash_bits(shingles_or_tokens: DataFrame) -> DataFrame:
    """SimHash over the first SIMHASH_BITS bits of md5 (one hex nibble's high
    bit per position): bit_i = 1 iff Σ_tokens (nibble_i ≥ 8 ? +1 : -1) > 0.
    Returns (doc_id, simhash) with simhash as a bit string — hex-nibble
    construction keeps the SQL oracle identical.

    No entry point runs this wide (groupBy) form: it is the test
    reference for simhash_bits_narrow, which the registry runs and which
    must give identical bits (tests/test_multimodal_dedup.py)."""
    col = "shingle" if "shingle" in shingles_or_tokens.columns else "token"
    h = F.md5(F.col(col))
    sums = [
        F.sum(
            F.when(F.substring(h, i + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = shingles_or_tokens.groupBy("doc_id").agg(*sums)
    bits = F.concat(
        *[F.when(F.col(f"b{i}") > 0, "1").otherwise("0") for i in range(SIMHASH_BITS)]
    )
    return agg.select("doc_id", bits.alias("simhash"))


def simhash_bits_narrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
) -> DataFrame:
    """SimHash with ZERO shuffle: per-bit vote sums run inside the row
    via aggregate() over the distinct-shingle array. Identical values to
    simhash_bits on distinct shingles."""
    sh = F.array_distinct(shingle_array(text_col, w))
    hexset = "89abcdef"

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            sh,
            F.lit(0),
            lambda acc, s: acc
            + F.when(F.substring(F.md5(s), i + 1, 1).isin(*hexset), 1).otherwise(-1),
        )

    bits = F.concat(
        *[F.when(bit_sum(i) > 0, "1").otherwise("0") for i in range(SIMHASH_BITS)]
    )
    return docs.select(F.col(id_col).alias("doc_id"), bits.alias("simhash"))


def ngram_jaccard_pairs(
    shingles: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Pairwise Jaccard over distinct shingle sets, blocked by shared
    shingles: J = |∩| / (|A| + |B| - |∩|)."""
    sh = shingles
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def substring_dup_pairs(
    docs: DataFrame,
    w: int = 20,
    min_shared: int = 1,
    max_gram_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplicate detection (the CC-Net / "Deduplicating
    Training Data Makes Language Models Better" complement to
    document-LEVEL MinHash-LSH): two docs pair when they share at least
    min_shared distinct w-word grams (w=20 ≈ the 50-token overlap
    regime those pipelines target, scaled to this corpus). Catches a
    long passage copied INTO an otherwise-different document — exactly
    the case whole-document signatures dilute below any LSH threshold.

    Plan shape at 10^12 docs:
      * gram extraction is NARROW (in-row transform + array_distinct +
        explode — no shuffle, no window);
      * the pair step is an EQUI-self-join on the gram hash, i.e.
        banded by construction: fan-out per gram = its doc frequency,
        never all-pairs; both sides are the identical subplan, so the
        shuffle is planned once (ReusedExchange);
      * boilerplate grams (license headers, nav chrome) are the skew
        path — max_gram_df drops grams seen in more than that many
        docs via a broadcast ANTI-join (the hot-gram set is tiny by
        definition: only grams above the cap). A dropped gram is one
        you don't want pairing on anyway; a 10^6-doc boilerplate gram
        would otherwise emit 10^12 pair rows.

    Returns (doc_a, doc_b, n_shared_grams), doc_a < doc_b.
    """
    # spread(): the interpreted gram+md5 chain otherwise runs in ONE
    # scan task on single-split corpora (guide §2.6); both self-join
    # sides still share one exchange (ReusedExchange)
    grams = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(shingle_array(text_col, w), lambda s: F.md5(s))
            )
        ).alias("g"),
    )
    if max_gram_df is not None:
        hot = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("gdf"))
            .filter(F.col("gdf") > max_gram_df)
            .select("g")
        )
        grams = grams.join(F.broadcast(hot), "g", "left_anti")
    pairs = (
        grams.select(F.col("doc_id").alias("doc_a"), "g")
        .join(grams.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    if min_shared > 1:
        pairs = pairs.filter(F.col("n_shared_grams") >= min_shared)
    return pairs


def paragraph_dedup(
    docs: DataFrame,
    paras_col: Column | None = None,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """CC-Net-style paragraph-level dedup: every paragraph that occurs
    more than once ACROSS THE CORPUS is dropped (boilerplate, license
    headers, nav chrome — the dominant duplication mode in web text),
    keeping the first occurrence by (doc_id, position) when keep_first
    (CC-Net's mode; keep_first=False drops ALL copies). Documents are
    reassembled from their surviving paragraphs in original order.

    paras_col: array<string> column expression splitting a doc into
    units (default: newline paragraphs). Callers choose the unit —
    e.g. a sentence split — the dedup itself is unit-agnostic.

    Returns (doc_id, text, n_paras, n_kept): text is the rebuilt doc
    (empty string if nothing survived — the row is KEPT so downstream
    length filters make the drop decision explicitly). Docs whose
    paras_col is null/empty (null text) have no paragraphs and are
    absent from the output, like the other text-keyed dedup ops.

    Scale shape at 10^12 docs:
      * paragraph explode is narrow; hashes are md5 (oracle-portable);
      * "first occurrence" is a map-side-combinable min(struct(doc_id,
        pos)) aggregation per hash — NOT a row_number window, which
        would sort every copy of a hyper-common paragraph ("All rights
        reserved." at df 10^9) inside one partition; the min-agg
        combines partially on the map side so no task ever holds a
        hash's full occurrence list;
      * rebuild is one groupBy(doc) with an in-row sort of that doc's
        surviving paragraphs (bounded by doc size).
    """
    paras = paras_col if paras_col is not None else F.split(F.col(text_col), "\n+")
    # Empty-string units (a trailing newline yields one per doc — they
    # would all share md5('') and dedup against each other, leaving one
    # arbitrary doc a dangling separator) and null units (md5(null) is
    # null and silently falls out of the equi-join) carry no content:
    # drop them before dedup.
    paras = F.filter(paras, lambda p: p.isNotNull() & (p != ""))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(paras).alias("pos", "para"),
    ).withColumn("h", F.md5(F.col("para")))
    per_hash = exploded.groupBy("h").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    keep = (
        (F.col("occ") == 1)
        | (
            F.lit(keep_first)
            & (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
    )
    flagged = exploded.join(per_hash, "h").withColumn("keep", keep)
    kept_paras = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("keep"), F.struct("pos", "para"))
            )
        ),
        lambda s: s["para"],
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(kept_paras, sep).alias(text_col),
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
    )


def exact_substring_removal(
    docs: DataFrame,
    w: int = 20,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022): every w-token span whose text
    occurs more than once ACROSS THE CORPUS is EXCISED from the
    document — not the document dropped (that is MinHash-LSH's job),
    not the paragraph unit (paragraph_dedup's job) — keeping the first
    occurrence by (doc_id, position) when keep_first (keep_first=False
    excises ALL copies). A span repeated for L >= w tokens contributes
    L-w+1 duplicated windows whose union covers the whole span, so
    arbitrarily long copied passages are removed in full while the
    first copy survives intact; within-doc repeats are excised the
    same way. The paper's suffix array is a single-machine structure —
    the rolling-window hash join below is the distributed equivalent
    over the same "duplicate iff a length-w substring matches exactly"
    criterion (token-level, vs the paper's 50 BPE tokens).

    Tokenization is split-on-single-space, which is LOSSLESS:
    array_join(split(text, ' '), ' ') == text for any text (empty
    tokens from runs of spaces and embedded newlines ride inside
    tokens), so untouched regions are reproduced byte-identical.

    Returns (doc_id, text, n_tokens, n_removed): one row per input doc
    with non-null text — text rebuilt from the surviving token ranges
    ("" if everything was removed: the row is KEPT so downstream length
    filters make the drop decision, like paragraph_dedup).

    Scale shape at 10^12 docs:
      * window extraction is narrow (in-row shingles + posexplode);
      * "first occurrence" is a map-side-combinable min(struct) agg per
        window hash — never a row_number window over a hot gram's
        occurrence list;
      * the mark-back join shuffles on the hash (AQE handles skew);
      * interval merge + rebuild are in-row folds over ONE doc's sorted
        removal starts — O(doc length), bounded by doc size, no
        cross-doc state.
    """
    win = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(shingle_array(text_col, w)).alias("s", "gram"),
    ).select("doc_id", "s", F.md5("gram").alias("h"))
    per_hash = win.groupBy("h").agg(
        F.count(F.lit(1)).alias("occ"),
        F.min(F.struct("doc_id", "s")).alias("first"),
    )
    # pre-filter to duplicated hashes BEFORE the mark-back join: most
    # windows in web text are unique, so the inner join against the
    # occ>1 subset emits only the duplicated windows instead of
    # carrying every window row through and filtering after.
    dup_hashes = per_hash.filter(F.col("occ") > 1)
    drop = F.lit(True)
    if keep_first:
        drop = (F.col("doc_id") != F.col("first.doc_id")) | (
            F.col("s") != F.col("first.s")
        )
    starts = (
        win.join(dup_hashes, "h")
        .filter(drop)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("starts"))
    )

    # merge sorted removal starts into disjoint covered intervals
    # [a, b] (token indices, 0-based inclusive); adjacent/overlapping
    # windows coalesce, so |intervals| <= |distinct spans|, typically
    # tiny even when |starts| is large.
    empty_ivs = F.array().cast("array<struct<a:int,b:int>>")
    ivs = F.aggregate(
        F.coalesce(F.col("starts"), F.array().cast("array<int>")),
        empty_ivs,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["b"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["a"].alias("a"),
                        F.greatest(
                            F.element_at(acc, -1)["b"], s + F.lit(w - 1)
                        ).alias("b"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(s.alias("a"), (s + F.lit(w - 1)).alias("b")))
            )
        ),
    )

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # kept token ranges = the gaps between covered intervals (plus the
    # tail after the last one); each gap is sliced out of toks in-row.
    gaps = F.concat(
        F.transform(
            F.col("_ivs"),
            lambda iv, i: F.struct(
                F.when(i == 0, F.lit(0))
                .otherwise(F.element_at(F.col("_ivs"), i)["b"] + 1)
                .alias("gs"),
                (iv["a"] - 1).alias("ge"),
            ),
        ),
        F.array(
            F.struct(
                F.when(F.size(F.col("_ivs")) > 0, F.element_at(F.col("_ivs"), -1)["b"] + 1)
                .otherwise(F.lit(0))
                .alias("gs"),
                (n - 1).alias("ge"),
            )
        ),
    )
    kept = F.flatten(
        F.transform(
            F.filter(F.col("_gaps"), lambda g: g["gs"] <= g["ge"]),
            lambda g: F.slice(toks, g["gs"] + 1, g["ge"] - g["gs"] + 1),
        )
    )
    removed = F.aggregate(
        F.col("_ivs"),
        F.lit(0),
        lambda acc, iv: acc + iv["b"] - iv["a"] + 1,
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col))
        .join(starts, "doc_id", "left")
        .withColumn("_ivs", ivs)
        .withColumn("_gaps", gaps)
        .withColumn("_removed", removed)
        .select(
            "doc_id",
            F.array_join(kept, " ").alias(text_col),
            n.cast("bigint").alias("n_tokens"),
            F.col("_removed").cast("bigint").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# The broadcast-postings jaccard kernel, shared by the n-gram router
# (ngram_jaccard_pairs_auto) and the fused LSH rescore
# (lsh_jaccard_pairs_broadcast): one persisted shingle-array table, one
# size probe against the driver gate, one postings index collected to the
# driver, and one threshold-scan probe over it. The LSH kernel adds only
# its band arrays, hot-band sets and the band-agreement mask.
# ---------------------------------------------------------------------------


def _shingle_arrays(
    docs: DataFrame, text_col: str, id_col: str, w: int
) -> DataFrame:
    """(doc_id, sh): each doc's DISTINCT w-shingle array, persisted
    MEMORY_AND_DISK. The interpreted higher-order shingling is the
    dominant cost and every consumer — the size probe, the postings
    collect, the probe scan, the signatures — rescans it (DataFrame
    actions do not share stages). Measured at sf0.1: guard + collect +
    probe scan 2.7s cached vs 10-15s uncached. One array row per doc
    (sketch-sized), not the pair fan-out; the caller owns the cache.
    spread() buys scan parallelism before the heavy narrow compute: the
    corpus often arrives as one parquet split (guide §2.6)."""
    from pyspark import StorageLevel

    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingle_array(text_col, w)).alias("sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _postings_fit(sh: DataFrame) -> bool:
    """The size probe: the postings index holds one doc_id entry per
    (doc, distinct shingle), i.e. Σ|sh| — one cheap aggregate over the
    cached arrays, gated by session.driver_row_cap. An oversized index
    is never pulled to the driver, so misuse cannot OOM it."""
    entries = sh.select(F.sum(F.size("sh"))).first()[0] or 0
    return entries <= driver_row_cap(sh, "doc_id")


def _postings_index(sh: DataFrame):
    """Collect the shingle → doc_ids postings and code the docs.

    Arrow toPandas (guide §6): the posting lists land as numpy arrays
    per row instead of per-element Python objects, and the doc → code
    mapping is a vectorized searchsorted per posting against the sorted
    doc universe — the driver-side build takes milliseconds. No
    array_sort in the agg: searchsorted makes within-list order
    irrelevant. Docs with no shingles (shorter than w, null text) never
    enter the index.

    Returns (shingles, coded, all_docs, sizes): the shingle list, its
    posting lists as doc-code arrays, the sorted doc ids, and each
    doc's distinct-shingle count by code."""
    import numpy as np

    pdf = (
        sh.select("doc_id", F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("doc_ids"))
        .toPandas()
    )
    p_arrs = [np.asarray(a) for a in pdf["doc_ids"].to_numpy()]
    all_docs = (
        np.unique(np.concatenate(p_arrs)) if p_arrs else np.array([], dtype=object)
    )
    coded = [np.searchsorted(all_docs, a) for a in p_arrs]
    sizes = np.zeros(len(all_docs), dtype=np.int64)
    for ids in coded:
        sizes[ids] += 1
    return list(pdf["shingle"]), coded, all_docs, sizes


def _threshold_scan(
    sh: DataFrame, index, min_jaccard: float, bands=None
) -> DataFrame:
    """Broadcast the postings index and probe it with every doc of
    `sh`: (doc_a, doc_b, jaccard) for doc_a < doc_b with exact jaccard
    >= min_jaccard. `bands` = (band_arrs, hot_sets) additionally keeps
    only survivors agreeing with doc_a on a non-hot LSH band.

    Per doc, the posting lists of its shingles scatter-add into an
    int32 accumulator (int32 halves the scan bandwidth); candidates
    are a THRESHOLD SCAN over it (guide §1.2 step 2 — per-task work): a
    pair with J >= t needs inter >= t/(1+t) * (na + nb) >= t/(1+t) *
    (na + min_b nb), so scanning acc for that floor over codes > me only
    (the pair-once rule for free) needs no per-doc O(Σ df log Σ df)
    sort of candidate ids. The floor uses the GLOBAL min doc size — conservative, no false
    negatives; survivors are still exact-jaccard filtered."""
    import numpy as np
    import pandas as pd

    keys, coded, all_docs, sizes = index
    bc = sh.sparkSession.sparkContext.broadcast(
        (
            dict(zip(keys, coded)),
            np.array(all_docs.tolist(), dtype=object),
            sizes,
            {d: i for i, d in enumerate(all_docs.tolist())},
            bands,
        )
    )
    id_type = sh.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_a {id_type}, doc_b {id_type}, jaccard double"

    def probe(batches):
        postings_l, names, sizes_l, code_l, bands_l = bc.value
        n_docs = len(names)
        acc = np.zeros(n_docs, dtype=np.int32)
        nb_min = int(sizes_l.min()) if n_docs else 0
        tt = min_jaccard / (1.0 + min_jaccard) if min_jaccard > 0 else 0.0
        for pdf in batches:
            out = {"doc_a": [], "doc_b": [], "jaccard": []}
            for doc_id, shingles in zip(pdf["doc_id"], pdf["sh"]):
                # docs with no shingles never entered the index and can
                # pair with nothing — skip, don't KeyError
                me = code_l.get(doc_id)
                if me is None:
                    continue
                touched = []
                for s in shingles:
                    ids = postings_l.get(s)
                    if ids is not None:
                        acc[ids] += 1
                        touched.append(ids)
                if not touched:
                    continue
                na = int(sizes_l[me])
                lo = max(1, int(tt * (na + nb_min)))  # floor() — safe side
                cand = np.flatnonzero(acc[me + 1:] >= lo) + (me + 1)
                if len(cand):
                    inter = acc[cand]
                    union = sizes_l[me] + sizes_l[cand] - inter
                    jac = inter / union
                    keep = jac >= min_jaccard
                    if bands_l is not None and keep.any():
                        # band agreement on the jaccard survivors only
                        band_arrs, hot_sets = bands_l
                        shared = np.zeros(len(cand), dtype=bool)
                        for b, arr in enumerate(band_arrs):
                            mine = arr[me]
                            if not mine or (hot_sets[b] and mine.decode() in hot_sets[b]):
                                continue
                            shared |= arr[cand] == mine
                        keep &= shared
                    k = int(keep.sum())
                    if k:
                        out["doc_a"].extend([doc_id] * k)
                        out["doc_b"].extend(names[cand[keep]])
                        out["jaccard"].extend(jac[keep])
                # memset reset: zeroing the whole accumulator is a
                # sequential 4B/doc write (~0.2MB), ~10x cheaper than
                # re-scattering every posting list to undo the adds
                acc.fill(0)
            yield pd.DataFrame(out)

    return sh.mapInPandas(probe, schema=out_schema)


def ngram_jaccard_pairs_auto(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact pairwise n-gram jaccard (doc_a < doc_b, jaccard >=
    min_jaccard) — picks the physical strategy by MEASURED index size
    (the same move Spark itself makes with autoBroadcastJoinThreshold):

      * the postings index fits on the driver (session.driver_row_cap on
        its Σ|sh| doc_id entries) → the broadcast-postings kernel: the
        shingle→docs index is broadcast as numpy arrays and each task
        accumulates intersection counts for its docs against all others
        — the Σ df² pair intermediate never shuffles. The size is
        measured first with one cheap aggregate over the cached shingle
        arrays — the same legitimacy as a broadcast hash join's build
        side.
      * too big → the relational blocked self-join
        (ngram_jaccard_pairs), fully distributed.

    Both paths return identical rows (tests/test_broadcast_index.py
    pins pairwise identity on both sides of the gate). Measured at
    sf0.1 local[32]: kernel ~7s, relational 18.5s.

    (A toLocalIterator streaming guard was tried and rejected: it runs
    the 32 reduce partitions as near-sequential jobs — 9.7s vs 7.4s at
    sf0.1 — while the agg+collect pair keeps both jobs fully parallel.)
    """
    sh = _shingle_arrays(docs, text_col, id_col, w)
    if not _postings_fit(sh):
        # the relational plan recomputes from `docs` and never reads the
        # cached shingles, so the persist would be a pure leak in a
        # long-lived session — release it before returning.
        sh.unpersist()
        return ngram_jaccard_pairs(
            word_shingles(docs, text_col=text_col, id_col=id_col, w=w),
            min_jaccard=min_jaccard,
        )
    return _threshold_scan(sh, _postings_index(sh), min_jaccard)


def resolve_duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """The dedup APPLY step: near-dup candidate pairs → duplicate
    clusters → one canonical survivor per cluster, mapped over the full
    corpus. This is what "deduplicate my corpus" actually means — the
    pair emitters (LSH / n-gram jaccard / SimHash / embedding near-dup)
    feed this to produce the kept set.

    Clusters are connected components of the pair graph (transitive:
    a~b, b~c ⇒ {a,b,c} one cluster, same closure the reference applies
    to entity merges in kb_utils_refactor.py:340-412); the survivor is
    the min id in the cluster.

    Returns one row per input doc: (id_col, canonical_id, is_canonical).
    `filter(is_canonical)` IS the deduplicated corpus; the non-canonical
    rows are the removal manifest (doc → surviving twin).

    Scale: CC runs on the PAIR graph only — LSH survivors, orders of
    magnitude smaller than the corpus. The final map-back join touches
    the corpus once on its id; the cluster-membership side is small, so
    AQE plans it as a broadcast join at runtime.
    """
    from pyspark import StorageLevel

    from ontoemma_spark.operators.components import connected_components

    # CC reads the pair graph several times (symmetrized edges, the node
    # universe, per-round message joins against the checkpointed sym) —
    # persist so the upstream pair plan (typically the whole LSH band
    # join) runs once, not once per consumer. connected_components
    # materializes its labels eagerly (localCheckpoint), so the cache
    # can be dropped before returning the (lazy) corpus map-back.
    cached = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cc = connected_components(cached, src=pair_a, dst=pair_b).select(
            F.col("node").alias(id_col), F.col("component").alias("_canon")
        )
    finally:
        cached.unpersist()
    canon = F.coalesce(F.col("_canon"), F.col(id_col))
    return (
        docs.select(id_col)
        .join(cc, id_col, "left")
        .select(
            F.col(id_col),
            canon.alias("canonical_id"),
            (canon == F.col(id_col)).alias("is_canonical"),
        )
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-style eval-set scrub):
    flag training docs sharing any w-word gram with a benchmark corpus.

    Returns one row per doc: (doc_id, n_hit_grams, contaminated) where
    n_hit_grams counts the doc's DISTINCT grams present in the
    benchmark's gram set. filter(~contaminated) is the scrubbed corpus;
    n_hit_grams supports threshold policies (e.g. drop only on ≥2 hits).

    Scale: the benchmark side is eval sets — thousands of docs, a gram
    set in the millions — so it broadcasts and the corpus-side probe is
    a map-side semi-join: no shuffle of the 10^12-doc gram stream, and
    the per-doc hit count aggregates map-side (doc-keyed).
    """
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(F.array_distinct(shingle_array(bench_text_col, w))).alias("gram")
        ).distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingle_array(text_col, w))).alias("gram"),
    )
    hits = (
        doc_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    n = F.coalesce("n_hit_grams", F.lit(0))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n.cast("bigint").alias("n_hit_grams"),
            (n > 0).alias("contaminated"),
        )
    )


def rescore_jaccard_pairs(
    pairs: DataFrame,
    shingle_arrays: DataFrame,
    min_jaccard: float,
    keep_jaccard: bool = False,
) -> DataFrame:
    """Exact-jaccard rescore of candidate pairs: joins the per-doc
    DISTINCT shingle ARRAY (doc_id, sh) onto the (small) pair set and
    intersects in-row — exact jaccard is computed only for candidates,
    never all-pairs. Shared by the LSH dedup query and the composed
    curation pass so the two rescores cannot drift."""
    a = shingle_arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = shingle_arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= min_jaccard)
    )
    cols = ["doc_a", "doc_b"] + (["jaccard"] if keep_jaccard else [])
    return out.select(*cols)


def cached_shingle_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
):
    """ONE cached shingling pass + MinHash signatures, the structure
    every LSH consumer shares (the dedup query and the curation pass
    both build on this — extracted so they cannot drift):

      * the per-doc distinct shingle ARRAY is the jaccard kernel's
        persisted table (_shingle_arrays) — it feeds both the
        signatures and the exact-jaccard rescore;
      * signatures use the EXPLODED minhash form (md5 inside
        explode+groupBy runs in whole-stage codegen, 2x the
        interpreted narrow transform; per-doc shingles are
        partition-local so map-side combine reduces the exchange to
        one row per doc), persisted because the band join consumes
        them on both self-join sides.

    Returns (shingle_arrays, signatures), BOTH persisted
    MEMORY_AND_DISK — the caller owns the caches and must unpersist
    once its downstream plans have materialized.
    """
    from pyspark import StorageLevel

    sh = _shingle_arrays(docs, text_col, id_col, w)
    sig = minhash_signatures(
        sh.select("doc_id", F.explode("sh").alias("shingle")),
        num_hashes=num_hashes,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return sh, sig


def lsh_jaccard_pairs_broadcast(
    sh: DataFrame,
    sig: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    min_jaccard: float = 0.5,
    max_band_df: int | None = None,
    keep_jaccard: bool = False,
) -> DataFrame:
    """Fused LSH candidate generation + exact-jaccard rescore over a
    cached (doc_id, sh) shingle-array table and its (doc_id, h0..hN)
    MinHash signature table (the cached_shingle_signatures pair).

    Output is IDENTICAL to the composed plan
    `rescore_jaccard_pairs(lsh_candidate_pairs(sig, ...), sh, ...)`:
    pairs (doc_a < doc_b) that (a) agree on at least one non-hot LSH
    band and (b) have exact shingle jaccard >= min_jaccard.

    Why fuse (guide §1.2 step 1 / §3.3): the composed plan materializes
    the full band self-join fan-out (millions of candidate pairs at
    sf1.0, quadratic in bucket size), distincts it, then shuffles the
    per-doc shingle ARRAYS onto both sides of every pair and runs an
    interpreted array_intersect per pair. This runs the n-gram
    router's broadcast-postings kernel instead (same size gate, with
    the composed plan as the fallback above it) plus one band-hash
    array per band (~32 bytes/doc/band), and applies the band
    agreement as a vectorized byte-compare on the jaccard survivors —
    the pair fan-out never exists as rows.

    The hot-band cap (max_band_df) matches drop_hot_bands exactly: a
    (band_idx, band_hash) bucket with more than max_band_df docs
    generates no pairs.
    """
    import hashlib

    import numpy as np

    rows_per_band = _rows_per_band(num_hashes, bands)
    if not _postings_fit(sh):
        cand = lsh_candidate_pairs(
            sig, num_hashes=num_hashes, bands=bands, max_band_df=max_band_df
        )
        return rescore_jaccard_pairs(
            cand, sh, min_jaccard, keep_jaccard=keep_jaccard
        )

    index = _postings_index(sh)
    shingle_list, coded, all_docs, _ = index
    # r6: signatures and band hashes are DERIVED ON THE DRIVER from the
    # already-collected postings index instead of running a second
    # explode + per-seed-min aggregation job over the whole corpus:
    # h_k(doc) = min over its shingles of md5('k:'+shingle), and with
    # shingles processed in ASCENDING hash order each doc's first
    # occurrence in the concatenated postings IS its minimum
    # (np.unique(..., return_index=True) — md5 hex is fixed-width
    # lowercase, so bytes order == the hash order Spark's min uses).
    # hashlib.md5 hexdigest is bit-identical to Spark's md5().
    n_all = len(all_docs)
    lens = np.array([len(a) for a in coded], dtype=np.int64)
    minh: list[np.ndarray] = []
    if n_all:
        for k in range(num_hashes):
            h_vals = np.array(
                [
                    hashlib.md5(f"{k}:{s}".encode()).hexdigest()
                    for s in shingle_list
                ],
                dtype="S32",
            )
            order = np.argsort(h_vals, kind="stable")
            docs_concat = np.concatenate([coded[i] for i in order])
            sh_idx = np.repeat(np.arange(len(order)), lens[order])
            uniq, first = np.unique(docs_concat, return_index=True)
            mk = np.zeros(n_all, dtype="S32")
            mk[uniq] = h_vals[order][sh_idx[first]]
            minh.append(mk)
    # per-band hash arrays, indexed by doc code; fixed-width bytes so the
    # band-agreement check on survivors is one vectorized compare
    band_arrs = []
    hot_sets: list[set] = [set() for _ in range(bands)]
    for b in range(bands):
        if n_all:
            parts = [minh[b * rows_per_band + r] for r in range(rows_per_band)]
            arr = np.array(
                [
                    hashlib.md5(b"|".join(p[i] for p in parts)).hexdigest()
                    for i in range(n_all)
                ],
                dtype="S32",
            )
        else:
            arr = np.zeros(0, dtype="S32")
        if max_band_df is not None and n_all:
            uniq_h, cnt = np.unique(arr, return_counts=True)
            hot_sets[b] = {h.decode() for h in uniq_h[cnt > max_band_df]}
        band_arrs.append(arr)

    res = _threshold_scan(sh, index, min_jaccard, bands=(band_arrs, hot_sets))
    cols = ["doc_a", "doc_b"] + (["jaccard"] if keep_jaccard else [])
    return res.select(*cols)


# ---------------------------------------------------------------------------
# Bloom-filter dedup state (round 5): the cross-crawl membership shape
# production pipelines (CC-Net, Dolma) use when the exact key set is
# too expensive to keep hot — URL-seen / content-hash-seen probes over
# 10^12 keys. Entirely relational and bitwise (no Python, no UDF):
# the filter is a (word_idx, word) table of 32-bit words, which is a
# SPARSE bloom — only non-zero words are stored, the table is bounded
# by m_bits/32 rows regardless of corpus size, and both the build and
# the probe are equi-shapes on word_idx.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 20  # default filter width; size to ~10 bits/key for ~1% FPR
BLOOM_K = 2             # hash functions


def _bloom_positions(key_col, m_bits: int, k: int):
    """k deterministic bit positions per key: the first 8 hex chars of
    md5('bloom{i}:'+key) parsed base-16, mod m_bits. Cross-engine: the
    DuckDB twin is CAST('0x'||substr(md5(...),1,8) AS BIGINT) % m."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return [
        (F.conv(F.substring(F.md5(F.concat(F.lit(f"bloom{i}:"), c)), 1, 8),
                16, 10).cast("bigint") % m_bits)
        for i in range(k)
    ]


def bloom_state(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build the filter: (word_idx bigint, word bigint) — 32 bits per
    word (bit 31 max keeps every mask positive in both engines' signed
    bigints). One explode + one map-side-combinable bit_or aggregate;
    at 10^12 keys the aggregate's combine happens in the scan stage and
    the exchange carries at most m_bits/32 rows. Persist bucketed on
    word_idx so every future probe co-locates.

    vs dedup_state's exact tables: the bloom answers "maybe seen" in
    O(m_bits) space with a tunable false-positive rate (size m_bits at
    ~10 bits/key for ~1%) and NO false negatives — the standard trade
    when the exact key set no longer fits the ingest hot path."""
    pos = F.explode(F.array(*_bloom_positions(key_col, m_bits, k))).alias("pos")
    return (
        keys.select(pos)
        .select((F.col("pos") / 32).cast("bigint").alias("word_idx"),
                F.pow(F.lit(2.0), F.col("pos") % 32).cast("bigint").alias("m"))
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("word"))
    )


def bloom_probe(
    batch: DataFrame,
    state: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """batch + maybe_seen: true iff ALL k bit positions of the row's
    key are set in the filter (bloom semantics — false positives at
    the filter's FPR, never false negatives). Probe shape: explode k
    (word_idx, mask) probes per row, ONE left equi-join against the
    word table (state is ≤ m_bits/32 rows — broadcastable up to
    ~2^26 bits; beyond that, bucket both sides on word_idx), then a
    map-side-combinable min over the k hit flags per row."""
    probes = batch.select(
        F.col(id_col),
        F.explode(F.array(*_bloom_positions(key_col, m_bits, k))).alias("pos"),
    ).select(
        id_col,
        (F.col("pos") / 32).cast("bigint").alias("word_idx"),
        F.pow(F.lit(2.0), F.col("pos") % 32).cast("bigint").alias("m"),
    )
    hits = probes.join(state, "word_idx", "left").select(
        id_col,
        (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("m")) == F.col("m"))
        .cast("int").alias("hit"),
    )
    seen = hits.groupBy(id_col).agg((F.min("hit") == 1).alias("maybe_seen"))
    return batch.join(seen, id_col, "left")


def bloom_gated_dedup(
    batch: DataFrame,
    corpus_keys: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Two-tier production ingest gate: bloom pre-filter, exact confirm.

    Tier 1 probes the sparse bloom (broadcast-sized word table) — rows
    whose probe misses are DEFINITELY fresh (blooms have no false
    negatives) and bypass the corpus-key join entirely. Tier 2 runs
    the exact membership join only for the maybe_seen slice, so the
    expensive 10^12-key equi-join shrinks to (dup_rate + FPR) of the
    batch instead of all of it — for a mostly-fresh crawl at ~1% FPR
    that is a ~50-100x reduction in join input. Output `is_dup` is
    EXACT (bloom false positives are resolved by the confirm join).

    The probed batch is evaluated by two branches (fresh / maybe);
    callers on the ingest hot path should persist or checkpoint the
    probe output so the bloom join runs once — the driver query and
    tests leave it lazy because the probe is a narrow broadcast shape.
    The bloom state is built once without a persist: the second branch
    reuses the first branch's broadcast exchange (ReusedExchange).
    """
    state = bloom_state(corpus_keys, key_col=key_col, m_bits=m_bits, k=k)
    probed = bloom_probe(
        batch, state, key_col=key_col, id_col=id_col, m_bits=m_bits, k=k
    )
    # a NULL key probes to NULL maybe_seen; without the coalesce the
    # row would fall through BOTH filters and vanish — route it fresh
    # (is_dup false), the same null stance as incremental_dedup
    maybe = F.coalesce(F.col("maybe_seen"), F.lit(False))
    fresh = probed.filter(~maybe).select(
        *batch.columns, F.lit(False).alias("is_dup")
    )
    corpus = corpus_keys.select(key_col).distinct().withColumn(
        "_in_corpus", F.lit(1)
    )
    confirmed = (
        probed.filter(maybe)
        .join(corpus, key_col, "left")
        .select(
            *batch.columns, F.col("_in_corpus").isNotNull().alias("is_dup")
        )
    )
    return fresh.unionByName(confirmed)
