"""Standard analyzer: UAX#29-subset word tokenization + lowercase.

Reference behavior being reproduced (see SURVEY.md §1.4): OpenSearch's
default analyzer for ``text`` fields is Lucene's StandardAnalyzer with an
EMPTY stopword set and ``max_token_length = 255`` (reference wiring:
``index/analysis/StandardAnalyzerProvider.java:50-57``,
``indices/analysis/AnalysisModule.java:253``). StandardTokenizer implements
UAX#29 Unicode word-break; LowerCaseFilter follows.

This module implements a documented, self-consistent UAX#29 *subset* that
is exactly expressible in three regex dialects we need to agree:

  - Python ``re``       (driver-side query analysis),
  - Java regex          (optional pure-Catalyst tokenization),
  - RE2 (DuckDB oracle) (no lookaround available).

Token grammar::

    WORD  := [\\w]+                      # Unicode letters, digits, '_'
    TOKEN := WORD ( [.':] WORD )*        # mid chars join when flanked by
                                         # word chars on BOTH sides

then lowercase, then split tokens longer than 255 chars into 255-char
chunks (Lucene's max_token_length splitting behavior).

Fidelity notes vs full UAX#29 (intentional, documented divergences):
- ``_`` (ExtendNumLet) joins:      ``x86_64`` -> one token  (matches spec)
- ``.`` ``'`` ``:`` (MidNumLet / MidLetter) join between any word chars,
  not only letter-letter / digit-digit as WB6/7/11/12 require; so
  ``a.1`` -> ``a.1`` here vs ``a``,``1`` per strict spec. Rare in source
  code; self-consistent between index, query, and oracle sides.
- ``,`` (MidNum) does NOT join digits (``1,000`` -> ``1``, ``000``).
- Hyphens split (``foo-bar`` -> ``foo``, ``bar``) — matches spec.
- Combining marks are not folded into the preceding word (Python ``\\w``
  excludes marks); pure-ASCII corpora are unaffected.

Positions are token ordinals (0-based); with no stopwords or synonym
filters every token has position increment 1, so ordinals == Lucene
positions and doc length == token count (``discount_overlaps`` moot).
"""

from __future__ import annotations

import re
from typing import List, Tuple

import pandas as pd

MAX_TOKEN_LENGTH = 255

# Python re dialect. \w in unicode mode = letters, digits, underscore.
TOKEN_PATTERN = re.compile(r"\w+(?:[.':]\w+)*", re.UNICODE)

# Java regex dialect (for Spark SQL regexp_extract_all; \w is ASCII in Java,
# so spell out the classes).
JAVA_TOKEN_REGEX = r"[\p{L}\p{N}_]+(?:[.':][\p{L}\p{N}_]+)*"


def duckdb_token_regex() -> str:
    """RE2 dialect token regex for DuckDB oracle SQL (single-quoted SQL
    string: caller must double the apostrophe)."""
    return r"[\p{L}\p{N}_]+(?:[.'':][\p{L}\p{N}_]+)*"


def spark_sql_token_regex() -> str:
    """JAVA_TOKEN_REGEX escaped for embedding inside a Spark SQL
    single-quoted string literal (Spark's string parser processes
    backslash escapes — double them; '' for the apostrophe). The ONE
    source for every F.expr-embedded tokenizer regex, so index-time and
    query-time SQL tokenization cannot drift."""
    return JAVA_TOKEN_REGEX.replace("\\", "\\\\").replace("'", "''")


def _split_long(tok: str) -> List[str]:
    if len(tok) <= MAX_TOKEN_LENGTH:
        return [tok]
    return [tok[i : i + MAX_TOKEN_LENGTH] for i in range(0, len(tok), MAX_TOKEN_LENGTH)]


def tokenize(text: str, analyzer: str = "standard") -> List[str]:
    """Analyze one string -> list of terms (position = list index).

    Analyzers (reference: index/analysis — the built-in analyzer
    registry; we support the three non-configurable ones):
    - ``standard``: UAX#29-subset word tokens + lowercase (default)
    - ``whitespace``: split on whitespace, NO lowercasing
    - ``keyword``: the whole input as one untouched token
    """
    if not text:
        return []
    if analyzer == "keyword":
        return [text]
    if analyzer == "whitespace":
        return WHITESPACE_PATTERN.findall(text)
    out: List[str] = []
    for tok in TOKEN_PATTERN.findall(text.lower()):
        out.extend(_split_long(tok))
    return out


# Regex character-class body of Java ``Character.isWhitespace``, the
# split set of the reference's WhitespaceTokenizer: \t \n \x0b \x0c \r,
# the separators \x1c-\x1f, and the Unicode space/line/paragraph
# separators EXCEPT the no-break spaces U+00A0, U+2007 and U+202F. The
# characters are literal, so the one string is valid in Python ``re``
# and in RE2 (DuckDB) alike; neither dialect's ``\s`` is this set.
WHITESPACE_CLASS = (
    "\t-\r\x1c- \u1680\u2000-\u2006\u2008-\u200a\u2028\u2029\u205f\u3000"
)
WHITESPACE_PATTERN = re.compile(f"[^{WHITESPACE_CLASS}]+")


def duckdb_tokens_expr(analyzer: str = "standard", col: str = "content") -> str:
    """DuckDB SQL expression producing the token LIST for ``col`` under
    the named analyzer (used by the segment-local index build and the
    SQL oracles — one dialect, same tokens as ``tokenize``, INCLUDING
    the 255-char max_token_length split and the whitespace analyzer's
    Java split set)."""
    if analyzer == "keyword":
        # empty/NULL content -> NO tokens (matching tokenize),
        # not a one-element ['']/[NULL] list
        return (f"CASE WHEN {col} IS NULL OR {col} = '' THEN []::VARCHAR[] "
                f"ELSE [{col}] END")
    if analyzer == "whitespace":
        return f"regexp_extract_all({col}, '[^{WHITESPACE_CLASS}]+')"
    raw = f"regexp_extract_all(lower({col}), '{duckdb_token_regex()}')"
    m = MAX_TOKEN_LENGTH
    return (
        f"flatten(list_transform({raw}, t -> "
        f"CASE WHEN length(t) <= {m} THEN [t] "
        f"ELSE list_transform(range(CAST(ceil(length(t) / {m}.0) AS BIGINT)), "
        f"i -> substring(t, CAST(1 + i * {m} AS BIGINT), {m})) END))"
    )


def spark_sql_tokens_expr(col: str) -> str:
    """Spark SQL expression producing the standard-analyzer token LIST
    for ``col`` — regex from :func:`spark_sql_token_regex` plus the
    same 255-char long-token split as ``tokenize``. The ONE source for
    every F.expr-embedded re-tokenization (source-verified phrases),
    kept in lockstep with the index build."""
    m = MAX_TOKEN_LENGTH
    raw = f"regexp_extract_all(lower({col}), '{spark_sql_token_regex()}', 0)"
    return (
        f"flatten(transform({raw}, t -> "
        f"CASE WHEN length(t) <= {m} THEN array(t) "
        f"ELSE transform(sequence(0, CAST((length(t) - 1) / {m} AS INT)), "
        f"i -> substring(t, i * {m} + 1, {m})) END))"
    )


def tokenize_pandas(texts: pd.Series) -> pd.Series:
    """Vectorized batch tokenization: Series[str] -> Series[list[str]].

    Uses pandas' C-loop str accessor with the compiled pattern; long-token
    splitting is applied only to rows that need it (rare).
    """
    lowered = texts.fillna("").str.lower()
    toks = lowered.str.findall(TOKEN_PATTERN)
    # fast path: long tokens are rare; fix up only offending rows
    needs_fix = lowered.str.len() > MAX_TOKEN_LENGTH
    if needs_fix.any():
        def fix(lst: List[str]) -> List[str]:
            if all(len(t) <= MAX_TOKEN_LENGTH for t in lst):
                return lst
            out: List[str] = []
            for t in lst:
                out.extend(_split_long(t))
            return out
        toks = toks.where(~needs_fix, toks[needs_fix].map(fix))
    return toks


def tokenize_offsets(text: str) -> List[Tuple[str, int, int]]:
    """Analyze with character offsets: [(term, start, end)] — the fetch
    phase's highlighting input (Lucene token offsets analog). Long-token
    splitting keeps per-chunk offsets."""
    if not text:
        return []
    out: List[Tuple[str, int, int]] = []
    for m in TOKEN_PATTERN.finditer(text):
        tok, s = m.group(0).lower(), m.start()
        if len(tok) <= MAX_TOKEN_LENGTH:
            out.append((tok, s, m.end()))
        else:
            for i in range(0, len(tok), MAX_TOKEN_LENGTH):
                chunk = tok[i : i + MAX_TOKEN_LENGTH]
                out.append((chunk, s + i, s + i + len(chunk)))
    return out
