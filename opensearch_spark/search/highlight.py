"""Highlighting — the fetch-phase subphase producing snippet fragments
with matched terms wrapped in tags (reference: ``search/fetch/subphase/
highlight/HighlightPhase.java`` + the unified highlighter; SURVEY §3.1
step 5).

:func:`make_fragments` builds one row's fragments: the driver tier calls
it on the fetched column before its one hand-off to Spark; the Spark
fetch maps it in a pandas UDF over the (small) fetched top-k rows
(:func:`fragments`). Token offsets come from the SAME analyzer as
indexing, so highlighted spans are exactly the tokens that matched.

PHRASE-AWARE: a phrase query highlights only the token positions that
participate in an actual phrase match (Lucene's unified highlighter
re-analyzes the source and reports match windows the same way) — a
stray occurrence of one phrase term elsewhere in the doc is NOT
wrapped. Loose (match / term) query terms still highlight every
occurrence. ``query_spec`` extracts both kinds from a parsed query
AST; negative clauses (must_not, boosting.negative, span exclusions)
never highlight.

The positional contract is driver-certified by the ``ft_highlight``
oracle row via :func:`phrase_occurrence_rows` — token-stream fragments
(context window joined by single spaces) whose construction a DuckDB
oracle reproduces exactly; the raw-text character-offset fragment
assembly below shares the same match-ordinal computation and keeps
pytest coverage (char offsets are not SQL-derivable from the token
table).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Set, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from opensearch_spark.analysis.analyzer import tokenize, tokenize_offsets

PRE, POST = "<em>", "</em>"


def query_spec(query, fields: Optional[Set[str]] = None,
               default_field: Optional[str] = None) -> dict:
    """Extract the highlightable structure of a query:
    ``{"terms": set[str], "phrases": [(terms, slop)]}``.

    Accepts a plain text string (bag of terms — the historical form),
    or a parsed AST node: phrase nodes contribute position-aware
    phrase entries, every other positive clause contributes its
    analyzed terms; must_not / negative / exclude subtrees are
    skipped.

    ``fields`` restricts collection to clauses targeting one of those
    field names (the unified highlighter's contract: a clause on
    another field does not highlight this one; ``matched_fields``
    widens the set — reference ``highlight/HighlightBuilder.java``
    matchedFields / AbstractHighlighterBuilder.highlightQuery). A
    multi-field clause (multi_match/combined_fields/query_string
    ``fields``) contributes when any of its fields is in the set. A
    field-less clause (multi_match/combined_fields without ``fields``)
    targets ``default_field``, the engine's text field. ``fields=None``
    keeps the historical collect-everything behavior."""
    if isinstance(query, str):
        return {"terms": set(tokenize(query)), "phrases": []}

    terms: Set[str] = set()
    phrases: List[Tuple[List[str], int]] = []

    def on_field(n) -> bool:
        if fields is None:
            return True
        fn = getattr(n, "field_name", None)
        if isinstance(fn, str) and fn:
            return fn in fields
        multi = getattr(n, "fields", None)
        if isinstance(multi, (list, tuple)) and multi:
            # "field^2" boost suffixes strip to the bare name
            return any(str(f).split("^")[0] in fields for f in multi)
        return default_field is None or default_field in fields

    def walk(n):
        if n is None or isinstance(n, (str, list)):
            return
        kind = type(n).__name__
        if kind in ("MatchPhrase", "MatchOnlyTextPhrase"):
            if not on_field(n):
                return
            toks = tokenize(getattr(n, "query", "") or "")
            if len(toks) >= 2:
                phrases.append((toks, int(getattr(n, "slop", 0) or 0)))
            else:
                terms.update(toks)
            return
        q = getattr(n, "query", None)
        if isinstance(q, str) and on_field(n):
            terms.update(tokenize(q))
        v = getattr(n, "value", None)
        if isinstance(v, str) and kind in ("Term", "SpanTerm") \
                and on_field(n):
            terms.update(tokenize(v))
        for attr in ("must", "filter", "should", "queries", "clauses"):
            for c in getattr(n, attr, []) or []:
                walk(c)
        for attr in ("positive", "match", "include", "query", "filter",
                     "little", "big"):
            c = getattr(n, attr, None)
            if c is not None and not isinstance(c, (str, list)) \
                    and hasattr(c, "boost"):
                walk(c)

    walk(query)
    return {"terms": terms, "phrases": phrases}


def phrase_ordinals(tokens: Sequence[str], phrase: Sequence[str],
                    slop: int = 0) -> Set[int]:
    """Token ordinals participating in at least one phrase match.

    slop=0: exact consecutive runs. slop>0: a token participates iff
    some choice of one occurrence per phrase slot — DISTINCT
    occurrences for repeated-term slots (review r5: one lone occurrence
    can never satisfy two slots; Lucene's repeat groups enforce the
    same) — lies inside a common adjusted-position window of width
    ``slop`` that includes it (the window form of Lucene's sloppy
    match — every position a SloppyPhraseMatcher match can touch is
    inside such a window). Repeat-group distinctness is decided in
    polynomial time: slot intervals within one window form a ladder
    ([w+j, w+slop+j], both ends increasing with j), so an
    ORDER-PRESERVING perfect matching exists whenever any does
    (exchange argument), and per-occurrence participation reduces to a
    greedy prefix/suffix index DP — no assignment enumeration (review
    r5: the product form was exponential in the repeat count, a
    query-time DoS). A work guard caps windows x slots (the
    max_analyzed_offset idea from the reference's highlighters) and
    falls back to term-set marking for pathological docs — never
    hangs, only over-highlights."""
    from bisect import bisect_left, bisect_right

    k = len(phrase)
    out: Set[int] = set()
    if k == 0 or len(tokens) < k:
        return out
    if slop == 0:
        for i in range(len(tokens) - k + 1):
            if all(tokens[i + j] == phrase[j] for j in range(k)):
                out.update(range(i, i + k))
        return out
    terms = set(phrase)
    pos_by_term: dict = {}
    for i, t in enumerate(tokens):
        if t in terms:
            pos_by_term.setdefault(t, []).append(i)
    if any(t not in pos_by_term for t in terms):
        return out
    slots_by_term: dict = {}
    for j, t in enumerate(phrase):
        slots_by_term.setdefault(t, []).append(j)
    starts = sorted({
        q - j - d
        for t, js in slots_by_term.items()
        for q in pos_by_term[t] for j in js for d in range(slop + 1)
    })
    if len(starts) * k > 250_000:  # pathological doc/slop: bounded work
        for t in terms:
            out.update(pos_by_term[t])
        return out
    for w in starts:
        # per-slot candidate index ranges [lo, hi) into the term's
        # sorted occurrence list (interval = [w+j, w+slop+j])
        ranges: dict = {}
        ok = True
        for t, js in slots_by_term.items():
            qs = pos_by_term[t]
            for j in js:
                lo = bisect_left(qs, w + j)
                hi = bisect_right(qs, w + slop + j)
                if lo >= hi:
                    ok = False
                    break
                ranges[j] = (lo, hi)
            if not ok:
                break
        if not ok:
            continue
        marks: list = []
        feasible = True
        for t, js in slots_by_term.items():
            qs = pos_by_term[t]
            if len(js) == 1:
                lo, hi = ranges[js[0]]
                marks.append((qs, range(lo, hi)))
                continue
            m = len(js)
            # F[x] = smallest max-occurrence-index for an order-
            # preserving match of slots js[:x]; B[x] = largest
            # min-index for a match of slots js[x:]
            F = [-1] * (m + 1)
            for x in range(1, m + 1):
                lo, hi = ranges[js[x - 1]]
                i = max(F[x - 1] + 1, lo)
                if i >= hi:
                    feasible = False
                    break
                F[x] = i
            if not feasible:
                break
            B = [len(qs)] * (m + 2)
            for x in range(m, 0, -1):
                lo, hi = ranges[js[x - 1]]
                i = min(B[x + 1] - 1, hi - 1)
                if i < lo:
                    feasible = False
                    break
                B[x] = i
            if not feasible:
                break
            for x in range(1, m + 1):
                lo, hi = ranges[js[x - 1]]
                a = max(lo, F[x - 1] + 1)
                b = min(hi, B[x + 1])
                if a < b:
                    marks.append((qs, range(a, b)))
        if not feasible:
            continue
        for qs, rng in marks:
            for i in rng:
                out.add(qs[i])
    return out


def match_ordinals(tokens: Sequence[str], spec) -> Set[int]:
    """All token ordinals to highlight for a query spec (loose terms
    everywhere + phrase participants only)."""
    if isinstance(spec, (set, frozenset)):
        spec = {"terms": set(spec), "phrases": []}
    out = {i for i, t in enumerate(tokens) if t in spec["terms"]}
    for phrase, slop in spec["phrases"]:
        out |= phrase_ordinals(tokens, phrase, slop)
    return out


def make_fragments(
    text: str, spec, frag_size: int = 100, n_frags: int = 2
) -> List[str]:
    """Build up to ``n_frags`` fragments of ~frag_size chars centered on
    matched-term spans, earliest-first; matched tokens wrapped in tags.
    ``spec`` is a query_spec dict, a plain term set, or a string."""
    if not text:
        return []
    if isinstance(spec, str):
        spec = query_spec(spec)
    offs = tokenize_offsets(text)
    matched = match_ordinals([t for t, _s, _e in offs], spec)
    spans = [(s, e) for i, (_t, s, e) in enumerate(offs) if i in matched]
    if not spans:
        return []
    frags: List[str] = []
    used_until = -1
    for s, e in spans:
        if s <= used_until:
            continue
        lo = max(0, s - frag_size // 2)
        hi = min(len(text), lo + frag_size)
        inside = [(a, b) for a, b in spans if a >= lo and b <= hi]
        out, cur = [], lo
        for a, b in inside:
            out.append(text[cur:a]); out.append(PRE); out.append(text[a:b]); out.append(POST)
            cur = b
        out.append(text[cur:hi])
        frags.append("".join(out))
        used_until = hi
        if len(frags) >= n_frags:
            break
    return frags


def phrase_occurrence_rows(
    tokens: Sequence[str], phrase: Sequence[str], slop: int = 0,
    ctx: int = 2,
) -> List[Tuple[int, str]]:
    """One (start_ordinal, fragment) row per exact phrase occurrence —
    the SQL-mirrorable certification contract (``ft_highlight``):
    fragment = tokens[start-ctx .. start+len(phrase)-1+ctx] joined by
    single spaces, with ONLY the occurrence's own positions wrapped
    (a nearby stray query term stays unwrapped — the phrase-awareness
    being certified). slop=0 only (occurrence identity is ambiguous
    under slop; the sloppy path is covered by phrase_ordinals tests).
    """
    if slop != 0:
        raise ValueError("phrase_occurrence_rows certifies slop=0")
    k = len(phrase)
    rows: List[Tuple[int, str]] = []
    for i in range(len(tokens) - k + 1):
        if all(tokens[i + j] == phrase[j] for j in range(k)):
            lo, hi = max(0, i - ctx), min(len(tokens), i + k + ctx)
            frag = " ".join(
                (PRE + tokens[p] + POST) if i <= p < i + k else tokens[p]
                for p in range(lo, hi)
            )
            rows.append((i, frag))
    return rows


def highlight(
    fetched: DataFrame,
    query,
    text_col: str = "content",
    frag_size: int = 100,
    n_frags: int = 2,
    out_col: str = "highlights",
    fields: Optional[Set[str]] = None,
    default_field: Optional[str] = None,
) -> DataFrame:
    """Add an ``array<string>`` fragment column (default name
    ``highlights``) to fetched hit rows; multi-field highlight calls
    this once per field with distinct ``out_col`` names. ``query`` is
    a parsed AST node (phrase-aware) or a plain text string.
    ``fields`` and ``default_field`` are passed to :func:`query_spec`
    (``fields=None`` = collect every clause)."""
    spec = query_spec(query, fields=fields, default_field=default_field)
    return fetched.withColumn(out_col, fragments(F.col(text_col), spec, frag_size, n_frags))


def fragments(text: Column, spec, frag_size: int = 100, n_frags: int = 2) -> Column:
    """:func:`make_fragments` of each row of ``text`` as an
    ``array<string>`` column (a pandas UDF)."""

    @F.pandas_udf("array<string>")
    def hl(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: make_fragments(t or "", spec, frag_size, n_frags))

    return hl(text)
