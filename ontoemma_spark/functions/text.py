"""Native (JVM-side, codegen-friendly) SQL expressions for the
reference's string/token primitives.

Every function here takes Spark SQL expression text (a column name, or
any expression) and returns Spark SQL expression text built purely from
built-in functions — no Python UDFs — so Catalyst keeps them inside
whole-stage codegen. Callers project them with one selectExpr (or one
F.expr where a Column is needed): Spark parses the whole projection in
one py4j call, where a Column build costs one call per expression node.
Double literals carry the D suffix; a bare 1.0 parses as a decimal.
Semantics are pinned to the reference implementations:

  clean/canonicalize     emma/utils/string_utils.py:6-14
  normalize_string       emma/utils/string_utils.py:87-93
  tokenize_string        emma/utils/string_utils.py:96-105
  get_character_n_grams  emma/utils/string_utils.py:27-35  (NUL padding!)
  get_jaccard_similarity emma/utils/string_utils.py:52-63  (-1.0 on empty)
  get_idf                emma/utils/string_utils.py:17-24
  _acronym               emma/EngineeredFeatureGenerator.py:122-129
"""

from __future__ import annotations

from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED

TOKEN_PATTERN = r"[A-Za-z\d]+"
EMPTY_STRINGS = "CAST(array() AS array<string>)"


def sql_string(s: str) -> str:
    """s as a Spark SQL string literal (backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\x00", "\\u0000") + "'"


def in_words(x: str, words: tuple[str, ...]) -> str:
    """``x IN (words)``: null-safe equality membership. The optimizer
    rewrites a literal IN longer than
    spark.sql.optimizer.inSetConversionThreshold (10) to an InSet hash
    lookup."""
    return f"{x} IN ({', '.join(map(sql_string, words))})"


def _fresh(name: str, *texts: str) -> str:
    """A lambda variable name that occurs in none of texts, so a
    primitive's lambda never captures a caller's variable."""
    k = 0
    while any(f"{name}{k}" in t for t in texts):
        k += 1
    return f"{name}{k}"


def clean(s: str) -> str:
    """Strip every char outside [a-zA-Z0-9 ] (string_utils.py:6-10)."""
    return f"regexp_replace({s}, '[^a-zA-Z0-9 ]+', '')"


def canonicalize(s: str) -> str:
    """clean + lowercase (string_utils.py:13-14)."""
    return f"lower({clean(s)})"


def normalize_string(s: str) -> str:
    """strip, lower, drop '-', '_'→' ' (string_utils.py:87-93)."""
    # translate maps '_'→' ' and deletes '-' (to-string shorter than from).
    return f"translate(lower(trim({s})), '_-', ' ')"


def tokenize(s: str) -> str:
    """Regex word tokens minus English stopwords, order+dups preserved
    (string_utils.py:96-105 returns a tuple, not a set). The 179-word
    IN becomes an InSet hash lookup per token."""
    t = _fresh("tok", s)
    return (
        f"filter(regexp_extract_all({s}, {sql_string(TOKEN_PATTERN)}, 0),"
        f" {t} -> NOT {in_words(t, ENGLISH_STOPWORDS_SORTED)})"
    )


def char_ngrams(s: str, n: int) -> str:
    """Padded character n-grams (string_utils.py:27-35).

    The reference pads with (n-1) NUL bytes on both ends — parity quirk.
    Returns the list of n-grams in order (duplicates preserved); callers
    needing the set apply array_distinct.
    """
    pad = sql_string("\x00" * (n - 1))
    padded = f"concat({pad}, {s}, {pad})"
    i = _fresh("pos", s)
    # positions 1 .. len(padded)-n+1
    return f"transform(sequence(1, length({padded}) - {n - 1}), {i} -> substr({padded}, {i}, {n}))"


def jaccard(a: str, b: str) -> str:
    """|a∩b| / |a∪b| over arrays treated as sets; -1.0 if either side
    empty (string_utils.py:52-63)."""
    return (
        f"CASE WHEN size({a}) > 0 AND size({b}) > 0"
        f" THEN CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
        f" / CAST(size(array_union({a}, {b})) AS DOUBLE) ELSE -1.0D END"
    )


def idf(corpus_size: int, freq: str) -> str:
    """ln(N/df + 1) (string_utils.py:17-24)."""
    return f"ln({float(corpus_size)!r}D / {freq} + 1.0D)"


def acronym(tokens: str) -> str:
    """First char of each token, concatenated
    (EngineeredFeatureGenerator.py:122-129)."""
    t = _fresh("tok", tokens)
    return f"array_join(transform({tokens}, {t} -> substr({t}, 1, 1)), '')"
