"""Span / interval position algebra (vectorized numpy).

Reference operators (SURVEY.md §2.2): the `span_*` family
(``index/query/SpanTermQueryBuilder.java``, ``SpanNearQueryBuilder.java:65``,
``SpanOrQueryBuilder.java``, ``SpanFirstQueryBuilder.java``,
``SpanNotQueryBuilder.java``) and `intervals`
(``index/query/IntervalQueryBuilder.java:55``, ``IntervalBuilder.java``).

A span set is a triple of aligned arrays (doc, start, end) — one row
per matching occurrence, ``end`` exclusive, sorted by (doc, start,
end). Term spans have end = start + 1. Operators compose span sets:

- ``term_spans``      postings positions -> width-1 spans
- ``or_spans``        union (span_or / intervals any_of)
- ``near_ordered``    chains s1 < s2 < ... < sk with total gap
                      (end_k - start_1 - sum(len_i)) <= slop.
                      Vectorized dp: per clause, a per-doc prefix-max of
                      (start_1 + sum len) over candidate predecessors via
                      searchsorted on packed (doc<<32|pos) keys — no
                      per-row Python.
- ``near_unordered``  minimal enclosing window of k=2 span sets (either
                      order, non-overlapping); k>2 folds pairwise
                      left-to-right (documented approximation of
                      Lucene's unordered minimal-interval semantics)
- ``first_spans``     spans with end <= n (span_first)
- ``not_spans``       include spans not overlapping any exclude span

Matching only (constant score): the engine scores span/interval hits
like a filter (constant boost), documented divergence from Lucene's
sloppy-freq span scoring.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

Spans = Tuple[np.ndarray, np.ndarray, np.ndarray]  # (doc, start, end)

_EMPTY: Spans = (
    np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
)


def _sorted(s: Spans) -> Spans:
    doc, st, en = s
    order = np.lexsort((en, st, doc))
    return doc[order], st[order], en[order]


def _group_ids(doc: np.ndarray) -> np.ndarray:
    """0, 0, 1, 1, 1, 2, ...: the run number of each entry of sorted ``doc``."""
    return np.concatenate(([0], np.cumsum(doc[1:] != doc[:-1])))


def ordinalize(decoded: dict, terms: List[str]) -> Tuple[np.ndarray, dict]:
    """Map raw docIds (full int64 range — xxhash64) to dense ordinals so
    spans can pack (doc << 32 | pos) keys without overflow. Returns
    (uniq_doc_ids, {term -> Spans over ordinals})."""
    present = [t for t in dict.fromkeys(terms)
               if t in decoded and decoded[t][0].size and decoded[t][3] is not None]
    if not present:
        return np.empty(0, np.int64), {}
    uniq = np.unique(np.concatenate([decoded[t][0] for t in present]))
    out = {}
    for t in present:
        docs, tfs, _dl, pos = decoded[t]
        ords = np.searchsorted(uniq, docs)
        doc_rep = np.repeat(ords, tfs)
        out[t] = (doc_rep, pos.astype(np.int64), pos.astype(np.int64) + 1)
    return uniq, out


def term_spans(span_map: dict, term: str) -> Spans:
    """Width-1 spans of ``term`` from an ``ordinalize`` map."""
    return span_map.get(term, _EMPTY)


def or_spans(spansets: List[Spans]) -> Spans:
    parts = [s for s in spansets if s[0].size]
    if not parts:
        return _EMPTY
    doc = np.concatenate([s[0] for s in parts])
    st = np.concatenate([s[1] for s in parts])
    en = np.concatenate([s[2] for s in parts])
    return _sorted((doc, st, en))


def near_ordered(spansets: List[Spans], slop: int) -> Spans:
    """Ordered non-overlapping chains with total gap <= slop. Returns
    the enclosing span [start_1, end_k) of each VALID chain endpoint
    (at most one best chain per final-clause occurrence)."""
    if any(s[0].size == 0 for s in spansets):
        return _EMPTY
    first = _sorted(spansets[0])
    # best = start_1 + sum(len_1..i) for the best chain ending at each occ
    doc, st, en = first
    best = st + (en - st)
    chain_start = st.copy()
    for i in range(1, len(spansets)):
        ndoc, nst, nen = _sorted(spansets[i])
        # predecessor constraint: prev.end <= cur.start, same doc.
        # prefix-max of best in (doc, end) order answers
        # "max best among prev spans with end <= X in this doc".
        order = np.lexsort((en, doc))
        pdoc, pend, pbest, pcs = doc[order], en[order], best[order], chain_start[order]
        # prefix max within doc groups
        run_best = pbest.copy()
        run_cs = pcs.copy()
        same = np.empty(pdoc.size, dtype=bool)
        same[0] = False
        same[1:] = pdoc[1:] == pdoc[:-1]
        # vectorized grouped prefix-max via np.maximum.accumulate with
        # resets: subtract a large offset per group change
        grp = np.cumsum(~same) - 1
        # argmax-carrying accumulate: emulate with sort-free pass using
        # np.maximum.accumulate on values offset by group
        big = np.int64(1) << 40
        keyed = run_best + grp * big
        acc = np.maximum.accumulate(keyed)
        take_prev = acc - grp * big
        # positions of the running best (for chain_start carry): find
        # where the accumulate changed
        is_new_max = keyed >= np.concatenate(([np.iinfo(np.int64).min], acc[:-1]))
        src_idx = np.where(is_new_max, np.arange(pdoc.size), -1)
        src_idx = np.maximum.accumulate(src_idx)
        run_cs = pcs[src_idx]

        # for each current span: find rightmost prev with (doc, end)
        # lexicographically <= (doc, start)
        pk = pdoc * (np.int64(1) << 32) + pend
        ck = ndoc * (np.int64(1) << 32) + nst
        j = np.searchsorted(pk, ck, side="right") - 1
        valid = j >= 0
        # must be the same doc
        valid &= np.where(j >= 0, pdoc[np.maximum(j, 0)] == ndoc, False)
        nbest = np.full(ndoc.size, np.iinfo(np.int64).min, dtype=np.int64)
        ncs = np.zeros(ndoc.size, dtype=np.int64)
        jj = np.maximum(j, 0)
        nbest[valid] = take_prev[jj[valid]] + (nen - nst)[valid]
        ncs[valid] = run_cs[jj[valid]]
        keep = valid
        doc, st, en = ndoc[keep], nst[keep], nen[keep]
        best = nbest[keep]
        chain_start = ncs[keep]
        if doc.size == 0:
            return _EMPTY
    # slop check: width - total_len = (end_k - start_1) - (best - start_1)
    slop_used = en - chain_start - (best - chain_start)
    keep = slop_used <= slop
    return _sorted((doc[keep], chain_start[keep], en[keep]))


def near_unordered(spansets: List[Spans], slop: int) -> Spans:
    """Unordered near: fold pairwise. For each pair, every combination
    of (a, b) non-overlapping in either order whose enclosing window
    has gap <= slop produces the enclosing span."""
    cur = spansets[0]
    for i in range(1, len(spansets)):
        cur = _pair_unordered(cur, _sorted(spansets[i]), slop)
        if cur[0].size == 0:
            return _EMPTY
    return cur


def _pair_unordered(a: Spans, b: Spans, slop: int) -> Spans:
    adoc, ast_, aen = _sorted(a)
    bdoc, bst, ben = b
    if adoc.size == 0 or bdoc.size == 0:
        return _EMPTY
    out_d: List[np.ndarray] = []
    out_s: List[np.ndarray] = []
    out_e: List[np.ndarray] = []
    # case 1: a before b (a.end <= b.start): for each b, the best a is
    # the one with the largest end (min gap); sort a by (doc, end)
    o = np.lexsort((aen, adoc))
    ak = adoc[o] * (np.int64(1) << 32) + aen[o]
    a_st_by_end = ast_[o]
    a_en_sorted = aen[o]
    a_doc_sorted = adoc[o]
    bk = bdoc * (np.int64(1) << 32) + bst
    j = np.searchsorted(ak, bk, side="right") - 1
    valid = (j >= 0)
    jj = np.maximum(j, 0)
    valid &= a_doc_sorted[jj] == bdoc
    if valid.any():
        gap = bst[valid] - a_en_sorted[jj[valid]]
        ok = gap <= slop
        if ok.any():
            out_d.append(bdoc[valid][ok])
            out_s.append(a_st_by_end[jj[valid]][ok])
            out_e.append(ben[valid][ok])
    # case 2: b before a — symmetric
    o2 = np.lexsort((ben, bdoc))
    bk2 = bdoc[o2] * (np.int64(1) << 32) + ben[o2]
    b_st_by_end = bst[o2]
    b_en_sorted = ben[o2]
    b_doc_sorted = bdoc[o2]
    ak2 = adoc * (np.int64(1) << 32) + ast_
    j2 = np.searchsorted(bk2, ak2, side="right") - 1
    valid2 = (j2 >= 0)
    jj2 = np.maximum(j2, 0)
    valid2 &= b_doc_sorted[jj2] == adoc
    if valid2.any():
        gap2 = ast_[valid2] - b_en_sorted[jj2[valid2]]
        ok2 = gap2 <= slop
        if ok2.any():
            out_d.append(adoc[valid2][ok2])
            out_s.append(b_st_by_end[jj2[valid2]][ok2])
            out_e.append(aen[valid2][ok2])
    if not out_d:
        return _EMPTY
    return _sorted((
        np.concatenate(out_d), np.concatenate(out_s), np.concatenate(out_e)
    ))


def first_spans(s: Spans, end: int) -> Spans:
    doc, st, en = s
    keep = en <= end
    return doc[keep], st[keep], en[keep]


def not_spans(include: Spans, exclude: Spans) -> Spans:
    """Spans of ``include`` that do not overlap any ``exclude`` span in
    the same doc (SpanNotQuery with pre/post = 0)."""
    idoc, ist, ien = include
    edoc, est, een = _sorted(exclude)
    if idoc.size == 0 or edoc.size == 0:
        return include
    # overlap test: exists exclude span with e.start < i.end and
    # e.end > i.start. For each include span, search excludes in-doc.
    ek_start = edoc * (np.int64(1) << 32) + est
    # rightmost exclude with start < i.end
    ik = idoc * (np.int64(1) << 32) + (ien - 1)
    j = np.searchsorted(ek_start, ik, side="right") - 1
    # among excludes up to j (same doc), need max end > i.start:
    # grouped prefix-max of een in (doc, start) order
    grp = _group_ids(edoc)
    big = np.int64(1) << 40
    acc_end = np.maximum.accumulate(een + grp * big) - grp * big
    valid = j >= 0
    jj = np.maximum(j, 0)
    same_doc = edoc[jj] == idoc
    overlapped = valid & same_doc & (acc_end[jj] > ist)
    keep = ~overlapped
    return idoc[keep], ist[keep], ien[keep]


def contained_mask(little: Spans, big: Spans) -> np.ndarray:
    """Boolean mask over ``little`` spans: True where some ``big`` span in
    the same doc fully encloses it (S <= s and E >= e). Vectorized:
    grouped prefix-max of big ends in (doc, start) order, then one
    searchsorted per little span."""
    ldoc, lst, len_ = little
    bdoc, bst, ben = _sorted(big)
    if ldoc.size == 0:
        return np.zeros(0, dtype=bool)
    if bdoc.size == 0:
        return np.zeros(ldoc.size, dtype=bool)
    grp = _group_ids(bdoc)
    big_off = np.int64(1) << 40
    acc_end = np.maximum.accumulate(ben + grp * big_off) - grp * big_off
    bk = bdoc * (np.int64(1) << 32) + bst
    lk = ldoc * (np.int64(1) << 32) + lst
    j = np.searchsorted(bk, lk, side="right") - 1
    valid = j >= 0
    jj = np.maximum(j, 0)
    return valid & (bdoc[jj] == ldoc) & (acc_end[jj] >= len_)


def containing_mask(big: Spans, little: Spans) -> np.ndarray:
    """Boolean mask over ``big`` spans: True where the span encloses at
    least one ``little`` span. Vectorized: grouped SUFFIX-min of little
    ends in (doc, start) order — for a big span [S, E) the leftmost
    little with start >= S (same doc) onward has min end <= E iff some
    little fits inside."""
    bdoc, bst, ben = big
    ldoc, lst, len_ = _sorted(little)
    if bdoc.size == 0:
        return np.zeros(0, dtype=bool)
    if ldoc.size == 0:
        return np.zeros(bdoc.size, dtype=bool)
    grp = _group_ids(ldoc)
    big_off = np.int64(1) << 40
    keyed = len_ + grp * big_off
    sufmin = np.minimum.accumulate(keyed[::-1])[::-1] - grp * big_off
    lk = ldoc * (np.int64(1) << 32) + lst
    bk = bdoc * (np.int64(1) << 32) + bst
    j = np.searchsorted(lk, bk, side="left")
    valid = j < ldoc.size
    jj = np.minimum(j, ldoc.size - 1)
    return valid & (ldoc[jj] == bdoc) & (sufmin[jj] <= ben)


def _mask_spans(s: Spans, keep: np.ndarray) -> Spans:
    return s[0][keep], s[1][keep], s[2][keep]


def within_spans(little: Spans, big: Spans) -> Spans:
    """span_within (reference: SpanWithinQueryBuilder): spans of
    ``little`` enclosed by some ``big`` span."""
    return _mask_spans(little, contained_mask(little, big))


def containing_spans(big: Spans, little: Spans) -> Spans:
    """span_containing (reference: SpanContainingQueryBuilder): spans of
    ``big`` that enclose at least one ``little`` span."""
    return _mask_spans(big, containing_mask(big, little))


def not_within_spans(little: Spans, big: Spans) -> Spans:
    """intervals not_contained_by: little spans NOT enclosed by any big."""
    return _mask_spans(little, ~contained_mask(little, big))


def not_containing_spans(big: Spans, little: Spans) -> Spans:
    """intervals not_containing: big spans with NO little span inside."""
    return _mask_spans(big, ~containing_mask(big, little))


def matching_docs(s: Spans) -> np.ndarray:
    """Distinct docs with >= 1 span."""
    return np.unique(s[0])
