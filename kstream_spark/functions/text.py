"""Text Column helpers: tokenization, shingling, hashing.

All hashes are md5 hex STRINGS (identical across Spark/DuckDB/any engine), so
every operator built on them is exactly reproducible by the SQL oracle — no
engine-specific 64-bit hash seeds.  At 100 TB the md5-as-string costs ~2× an
xxhash64 but keeps signatures portable; swap ``hash_str`` for
``F.xxhash64`` when oracle parity is not required.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java's ``\s`` class, spelled out: Python's ``\s`` is Unicode-wide and
# would split on NBSP & friends where the JVM ``words`` does not
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def words(text: Column) -> Column:
    """Lower-cased whitespace-robust tokens (split on runs of whitespace)."""
    return F.split(F.lower(text), r"\s+")


def py_words(text: str | None) -> list[str]:
    """Python twin of ``words`` for code that runs inside mapInPandas:
    ``text`` must already be lower-cased JVM-side (Python ``str.lower``
    differs on dotted-I etc.).  Same split as the JVM, empty leading and
    trailing tokens included; NULL text has no words."""
    return [] if text is None else _JAVA_WS.split(text)


def py_word_shingles(text: str | None, n: int = 3) -> list[str]:
    """Python twin of ``word_shingles`` (with duplicates, empty when the
    document has fewer than n words) over JVM-lowered ``text``."""
    ws = py_words(text)
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


def hash_str(col: Column, seed: str = "") -> Column:
    """Portable hash: md5 hex of (seed || ':' || value)."""
    payload = F.concat(F.lit(f"{seed}:"), col) if seed != "" else col
    return F.md5(F.encode(payload, "UTF-8"))


def lit_strings(vals) -> Column:
    """array<string> literal built in ONE py4j round trip (r13; the
    string twin of functions/vectors.lit_doubles).

    ``F.array(*[F.lit(s) for s in vals])`` pays one py4j round trip per
    element plus the array assembly — lang_id_ngram's ~240 profile-gram
    literals cost ~2.4 s of socket round trips per query CONSTRUCTION in
    a fresh JVM (cProfile: 310 ``lit`` calls, 2,388 round trips), pure
    driver overhead the bench and every driver run pay before a single
    task launches.  One ``F.expr`` string with backslash-escaped
    single-quoted literals builds the IDENTICAL array Literal JVM-side
    (parity pinned by pytest over quote/backslash/unicode/NBSP/emoji
    values).  Values containing control characters fall back to the
    element-wise path rather than depending on the SQL lexer's treatment
    of raw control bytes inside literals."""
    vals = [str(v) for v in vals]
    if not vals:
        return F.array().cast("array<string>")
    if any(any(ord(c) < 0x20 for c in v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    quoted = ",".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in vals)
    return F.expr(f"array({quoted})")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (with duplicates; wrap in array_distinct for
    set semantics).  Empty array when the document has fewer than n words."""
    w = words(text)
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    return F.when(F.size(w) >= n, grams).otherwise(F.array().cast("array<string>"))


def token_count(text: Column) -> Column:
    """Word-regex token count (BPE-ish proxy: word pieces + punctuation)."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]"))


def content_hash(text: Column, normalize: bool = True) -> Column:
    """Exact-dup fingerprint: md5 of (optionally normalized) text."""
    t = text
    if normalize:
        t = F.regexp_replace(F.lower(text), r"\s+", " ")
    return F.md5(F.encode(t, "UTF-8"))


def html_to_text(col: Column) -> Column:
    """Visible-text extraction from HTML (the web-corpus extraction stage,
    boilerplate-removal-lite): drops script/style blocks and comments,
    strips all tags, unescapes the common entities, collapses whitespace.
    Codegen-only, and every pattern is RE2-compatible (no backreferences or
    lookarounds), so a SQL engine replays it exactly.

    Single-pass entity caveat: ``&amp;`` is decoded LAST, so double-encoded
    entities (``&amp;lt;``) correctly surface as their single-encoded text
    (``&lt;``) rather than decoding twice.
    """
    t = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, ch)
    return F.trim(F.regexp_replace(t, r"\s+", " "))
