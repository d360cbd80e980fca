"""Deterministic HTML → text extraction (north-rule extract stage).

The per-row invariant (BASELINE.json input_hint) is: extracted text is a
pure, byte-identical function of the page html per url. Two
implementations of the SAME specification:

  * extract_text_col  — native Spark column expression (regexp_replace
                        chain, JVM-side, whole-stage-codegen) — the
                        production path
  * extract_text_py   — pure Python, the executable specification the
                        tests compare the native path against

All regex patterns are restricted to constructs with identical semantics
in java.util.regex and Python re (explicit character classes, inline
(?is) flags, non-greedy quantifiers) so the two agree byte-for-byte;
tests/test_extract.py asserts it.

Reference anchor: the reference's only text machinery is
emma/utils/common.py:768-791 (from_text: sentence split + tokenize) and
clean_wiki_text (:44-52); it has no HTML extractor, so this stage is the
new web-scale front end mandated by the north rule.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Patterns shared verbatim between Python re and Java regex. Boilerplate
# blocks (head/script/style/nav/header/footer/aside/comments) are removed
# wholesale; remaining tags are stripped.
_P_BLOCKS = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?is)<head[^>]*>.*?</head>",
    r"(?is)<nav[^>]*>.*?</nav>",
    r"(?is)<header[^>]*>.*?</header>",
    r"(?is)<footer[^>]*>.*?</footer>",
    r"(?is)<aside[^>]*>.*?</aside>",
    r"(?s)<!--.*?-->",
]
_P_TAG = r"<[^>]*>"
_P_WS = r"[ \t\r\n\f]+"

# Entity map applied in fixed order (no full HTML5 entity table — the
# subset below is the deterministic specification).
_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def extract_text_py(html_bytes: bytes | None) -> str:
    """Executable specification of the extract invariant."""
    if html_bytes is None:
        return ""
    text = html_bytes.decode("utf-8", errors="replace")
    for pattern in _P_BLOCKS:
        text = re.sub(pattern, " ", text)
    text = re.sub(_P_TAG, " ", text)
    for ent, rep in _ENTITIES:
        text = text.replace(ent, rep)
    text = re.sub(_P_WS, " ", text).strip()
    return text


def extract_text_col(html_col) -> Column:
    """Same spec as native JVM expressions."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    # NOT F.decode(c, 'UTF-8'): under ANSI mode decode() THROWS on
    # malformed bytes, and Common-Crawl HTML is full of them — the whole
    # 10^12-page scan would die on the first bad page. cast-to-string +
    # make_valid_utf8 substitutes U+FFFD per maximal invalid subpart,
    # the same policy as the Python spec's errors="replace"
    # (parity pinned in tests/test_extract.py on invalid-byte inputs).
    text = F.make_valid_utf8(c.cast("string"))
    for pattern in _P_BLOCKS:
        text = F.regexp_replace(text, pattern, " ")
    text = F.regexp_replace(text, _P_TAG, " ")
    for ent, rep in _ENTITIES:
        text = F.replace(text, F.lit(ent), F.lit(rep))
    text = F.trim(F.regexp_replace(text, _P_WS, " "))
    return text
