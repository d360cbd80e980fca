"""Native (JVM-side, codegen-friendly) column expressions for the
reference's string/token primitives.

Every function here returns a pyspark Column built purely from built-in
functions — no Python UDFs — so Catalyst keeps them inside whole-stage
codegen. Semantics are pinned to the reference implementations:

  clean/canonicalize     emma/utils/string_utils.py:6-14
  normalize_string       emma/utils/string_utils.py:87-93
  tokenize_string        emma/utils/string_utils.py:96-105
  get_character_n_grams  emma/utils/string_utils.py:27-35  (NUL padding!)
  get_jaccard_similarity emma/utils/string_utils.py:52-63  (-1.0 on empty)
  get_idf                emma/utils/string_utils.py:17-24
  _acronym               emma/EngineeredFeatureGenerator.py:122-129
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED

TOKEN_PATTERN = r"[A-Za-z\d]+"

# words → (gateway, JVM Seq of their literal Columns)
_IN_LISTS: dict = {}


def isin_words(col: Column, words: tuple[str, ...]) -> Column:
    """``col IN (words)``, same semantics as ``col.isin(*words)``.

    Column.isin crosses py4j once per literal (build it, then add it to
    the argument list): ~500 round trips for the 179 stopwords on every
    call. The literal Seq is built once per JVM gateway here and reused,
    so each call costs one round trip. The optimizer still rewrites a
    literal IN longer than spark.sql.optimizer.inSetConversionThreshold
    (10) to an InSet hash lookup."""
    from pyspark.sql.classic.column import Column as JvmColumn, _to_seq

    sc = SparkContext._active_spark_context
    hit = _IN_LISTS.get(words)
    if hit is None or hit[0] is not sc._gateway:
        hit = _IN_LISTS[words] = (sc._gateway, _to_seq(sc, [F.lit(w)._jc for w in words]))
    return JvmColumn(col._jc.isin(hit[1]))


def clean(col) -> Column:
    """Strip every char outside [a-zA-Z0-9 ] (string_utils.py:6-10)."""
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, r"[^a-zA-Z0-9 ]+", "")


def canonicalize(col) -> Column:
    """clean + lowercase (string_utils.py:13-14)."""
    return F.lower(clean(col))


def normalize_string(col) -> Column:
    """strip, lower, drop '-', '_'→' ' (string_utils.py:87-93)."""
    c = F.col(col) if isinstance(col, str) else col
    # translate maps '_'→' ' and deletes '-' (to-string shorter than from).
    return F.translate(F.lower(F.trim(c)), "_-", " ")


def tokenize(col) -> Column:
    """Regex word tokens minus English stopwords, order+dups preserved
    (string_utils.py:96-105 returns a tuple, not a set)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), 0)
    # r6: a literal IN — the optimizer rewrites it to an InSet hash
    # lookup; ~array_contains(literal array, t) scanned all 179
    # stopwords per token interpreted. Same null-safe equality
    # membership semantics.
    return F.filter(toks, lambda t: ~isin_words(t, ENGLISH_STOPWORDS_SORTED))


def char_ngrams(col, n: int) -> Column:
    """Padded character n-grams (string_utils.py:27-35).

    The reference pads with (n-1) NUL bytes on both ends — parity quirk.
    Returns the list of n-grams in order (duplicates preserved); callers
    needing the set apply array_distinct.
    """
    c = F.col(col) if isinstance(col, str) else col
    padding = F.lit("\x00" * (n - 1))
    padded = F.concat(padding, c, padding)
    # positions 1 .. len(padded)-n+1
    return F.transform(
        F.sequence(F.lit(1), F.length(padded) - F.lit(n - 1)),
        lambda i: padded.substr(i, F.lit(n)),
    )


def jaccard(a, b) -> Column:
    """|a∩b| / |a∪b| over array columns; -1.0 if either side empty
    (string_utils.py:52-63). Inputs are treated as sets."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    nonempty = (F.size(ca) > 0) & (F.size(cb) > 0)
    inter = F.size(F.array_intersect(ca, cb)).cast("double")
    union = F.size(F.array_union(ca, cb)).cast("double")
    return F.when(nonempty, inter / union).otherwise(F.lit(-1.0))


def idf(corpus_size, freq) -> Column:
    """ln(N/df + 1) (string_utils.py:17-24)."""
    n = F.lit(float(corpus_size)) if isinstance(corpus_size, (int, float)) else corpus_size
    f = F.col(freq) if isinstance(freq, str) else freq
    return F.log(n / f + F.lit(1.0))


def acronym(tokens_col) -> Column:
    """First char of each token, concatenated
    (EngineeredFeatureGenerator.py:122-129)."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.array_join(F.transform(c, lambda t: t.substr(F.lit(1), F.lit(1))), "")
