"""Code tokenizer — the semantic bedrock of the engine.

Reimplements (from observed behavior, not code translation) the
reference analyzer chain:

- ``WordSegmenter.GetSegToken``
  (/root/reference/src/CodeIndex.IndexBuilder/CodeTokenUtils/WordSegmenter.cs:32-110):
  space-like chars (`` \\t\\r\\n\\u3000``) are dropped; each *special*
  char (ASCII 33-47, 58-64, 91-96, 123-126 — includes ``_ . ( ) ;``)
  is its own single-char token; contiguous runs of everything else
  form one token. NOTE: CamelCase identifiers stay whole
  (``SaveResultsAndClearLucenePool`` is ONE token) but snake_case
  splits because ``_`` is a special char.
- ``CodeAnalyzer`` lowercasing filter
  (/root/reference/src/CodeIndex.IndexBuilder/CodeAnalyzer.cs:22-48):
  the case-insensitive fields lowercase every token; the
  case-sensitive field keeps case. Both come from ONE tokenizer pass.
- ``WordSegmenter.GetWords`` (WordSegmenter.cs:112-144): hint-word
  extraction — special chars are dropped entirely (not emitted) and a
  min/max length filter applies (4..199 for hints, per
  /root/reference/src/CodeIndex.IndexBuilder/CodeIndexBuilder.cs:111-112).

Golden behavior pinned by
/root/reference/src/CodeIndex.Test/IndexBuilder/CodeAnalyzerTest.cs:14-72
and transliterated into tests/test_tokenizer.py.

Everything here is regex + pandas — no per-row Spark UDFs. The Spark
entry points are Arrow-batched (`pandas_udf` / `mapInPandas`).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Special-char ranges from WordSegmenter.cs:104-110 (ASCII only).
_SPECIAL_RANGES = ((33, 47), (58, 64), (91, 96), (123, 126))
SPECIAL_CHARS = "".join(
    chr(c) for lo, hi in _SPECIAL_RANGES for c in range(lo, hi + 1)
)
# Space-like chars from WordSegmenter.cs:97-100 (incl. ideographic space).
SPACE_CHARS = " \t\r\n　"

_SPECIAL_CLASS = re.escape(SPECIAL_CHARS)
_DROP_CLASS = re.escape(SPECIAL_CHARS + SPACE_CHARS)

# One token = a single special char OR a maximal run of non-special,
# non-space chars. Order matters: specials are single-char so the
# alternation is unambiguous.
TOKEN_RE = re.compile(f"[{_SPECIAL_CLASS}]|[^{_DROP_CLASS}]+")
# Word tokens only (GetWords semantics): runs with specials dropped.
WORD_RE = re.compile(f"[^{_DROP_CLASS}]+")

# Hint-word length bounds (CodeIndexBuilder.cs:111-112).
HINT_MIN_LEN = 4
HINT_MAX_LEN = 199


def tokenize(text: str) -> list[str]:
    """Full token stream (specials as single-char tokens), case kept."""
    if not text:
        return []
    return TOKEN_RE.findall(text)


def tokenize_lower(text: str) -> list[str]:
    """Token stream lowercased — the case-insensitive field."""
    return [t.lower() for t in tokenize(text)]


def get_words(
    text: str, min_length: int = 1, max_length: int = HINT_MAX_LEN
) -> list[str]:
    """GetWords semantics: specials dropped, length-filtered runs."""
    if text is None:
        raise ValueError("content must not be None")
    if not 1 <= min_length <= 199:
        raise ValueError("min_length out of range [1, 199]")
    if not min_length <= max_length <= 1000:
        raise ValueError("max_length out of range [min_length, 1000]")
    return [
        w for w in WORD_RE.findall(text) if min_length <= len(w) <= max_length
    ]


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized (pandas C-loop) tokenization of a string Series.

    Returns a Series of lists of cased tokens. This is the kernel the
    Arrow-batched Spark UDFs call — no Python-level row loop in Spark.
    """
    return texts.fillna("").str.findall(TOKEN_RE)


def doc_term_stats(tokens: list[str]) -> tuple[dict[str, list[int]], int]:
    """Per-document term -> positions map (cased) and doc length.

    Positions are 0-based token indices (Lucene position increment 1
    per token), which is what phrase adjacency joins consume.
    """
    positions: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        positions.setdefault(t, []).append(i)
    return positions, len(tokens)


# CamelCase / digit-boundary subtoken splitter for the EXTRA
# identifier field (BASELINE.json north_star asks for CamelCase
# subtoken search; the reference-compatible fields above stay intact
# for rank identity). "HTTPServer2Response" ->
# ["http", "server", "2", "response"]; snake parts already split by
# '_' being a special char.
CAMEL_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z]*|[a-z]+|[0-9]+")


def camel_subtokens(token: str) -> list[str]:
    """Lowercased CamelCase/digit subtokens of one identifier token.
    Single-subtoken results are kept (the field then matches whole
    identifiers too)."""
    return [m.lower() for m in CAMEL_RE.findall(token)]


def camel_token_stream(text: str) -> list[str]:
    """Full camel-subtoken stream of a text: the reference token
    stream with every word token replaced by its subtokens (specials
    dropped — this field is for identifier search, not punctuation)."""
    out: list[str] = []
    for t in WORD_RE.findall(text or ""):
        out.extend(camel_subtokens(t))
    return out


def token_count_series(texts: pd.Series) -> pd.Series:
    """Vectorized token counts (doc length) for a string Series."""
    return texts.fillna("").str.count(TOKEN_RE).astype(np.int64)
