"""lsh_jaccard_pairs_broadcast (r6 fused band-join + exact-jaccard
kernel) must produce EXACTLY the rows of the composed plan it replaces
(lsh_candidate_pairs → rescore_jaccard_pairs), including under the
hot-band cap, and must fall back to that composed plan when the
postings index does not fit on the driver."""

import pytest

from ontoemma_spark.operators.dedup import (
    cached_shingle_signatures,
    lsh_candidate_pairs,
    lsh_jaccard_pairs_broadcast,
    rescore_jaccard_pairs,
)

SF = "/root/testdata/sf0.001"


def _composed(sh, sig, max_band_df=None, min_jaccard=0.5):
    cand = lsh_candidate_pairs(sig, num_hashes=4, bands=2, max_band_df=max_band_df)
    return rescore_jaccard_pairs(cand, sh, min_jaccard, keep_jaccard=True)


@pytest.fixture(scope="module")
def sh_sig(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh, sig = cached_shingle_signatures(docs, w=2, num_hashes=4)
    yield sh, sig
    sh.unpersist()
    sig.unpersist()


def _rows(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


def test_fused_equals_composed(spark, sh_sig):
    sh, sig = sh_sig
    fused = _rows(
        lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=4, bands=2, min_jaccard=0.5, keep_jaccard=True
        )
    )
    composed = _rows(_composed(sh, sig))
    assert set(fused) == set(composed)
    for k in composed:
        assert abs(fused[k] - composed[k]) < 1e-12, k
    assert len(fused) > 0  # the fixture corpus must actually exercise it


def test_fused_equals_composed_low_threshold(spark, sh_sig):
    """min_jaccard below the LSH operating point: band agreement, not the
    jaccard floor, must be what bounds the output."""
    sh, sig = sh_sig
    fused = _rows(
        lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=4, bands=2, min_jaccard=0.05, keep_jaccard=True
        )
    )
    composed = _rows(_composed(sh, sig, min_jaccard=0.05))
    assert set(fused) == set(composed)


def test_fused_hot_band_cap_matches_drop_hot_bands(spark, sh_sig):
    sh, sig = sh_sig
    fused = _rows(
        lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=4, bands=2, min_jaccard=0.5,
            max_band_df=3, keep_jaccard=True,
        )
    )
    composed = _rows(_composed(sh, sig, max_band_df=3))
    assert set(fused) == set(composed)


def test_fused_guard_falls_back_to_composed(spark, sh_sig, broadcast_off):
    sh, sig = sh_sig
    fast = _rows(
        lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=4, bands=2, min_jaccard=0.5, keep_jaccard=True
        )
    )
    with broadcast_off():
        guarded = lsh_jaccard_pairs_broadcast(
            sh, sig, num_hashes=4, bands=2, min_jaccard=0.5, keep_jaccard=True,
        )
        # fallback is the fully relational composed plan: a band equi-join
        # must appear (the kernel's mapInPandas probe must not)
        plan = guarded._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan
        assert _rows(guarded) == fast


def test_fused_drops_jaccard_column_when_not_kept(spark, sh_sig):
    sh, sig = sh_sig
    df = lsh_jaccard_pairs_broadcast(sh, sig, num_hashes=4, bands=2)
    assert df.columns == ["doc_a", "doc_b"]


def test_fused_skips_docs_without_shingles_both_sides(spark, broadcast_off):
    """A doc shorter than w and a null-text doc have no shingles: the
    fused kernel skips them below the gate, and above it the composed
    plan it falls back to drops them too — rows equal on both sides."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e g"),
         (4, "x y z w v"), (5, "x y z w v u"), (6, "q"), (7, None)],
        "doc_id bigint, text string",
    )
    sh, sig = cached_shingle_signatures(docs, w=2, num_hashes=4)
    try:
        composed = _rows(_composed(sh, sig))
        fast = _rows(
            lsh_jaccard_pairs_broadcast(
                sh, sig, num_hashes=4, bands=2, min_jaccard=0.5, keep_jaccard=True
            )
        )
        with broadcast_off():
            slow = _rows(
                lsh_jaccard_pairs_broadcast(
                    sh, sig, num_hashes=4, bands=2, min_jaccard=0.5, keep_jaccard=True
                )
            )
    finally:
        sh.unpersist()
        sig.unpersist()
    assert fast == slow == composed
    assert (1, 2) in fast
