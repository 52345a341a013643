"""BM25 scoring math (Lucene-compatible) + per-segment numpy scorers.

Scoring model (SURVEY.md §1.5; public Lucene semantics):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))      N = field docCount
    tfNorm     = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(t,d) = boost * (k1 + 1) * idf(t) * tfNorm

The extra ``(k1 + 1)`` numerator matches the reference's
``LegacyBM25Similarity`` (rank-order identical to modern BM25; scores
scale by 2.2). ``dl`` is the byte4-QUANTIZED token count (decoded from the
inline per-posting norm byte); ``avgdl = sumTotalTermFreq / docCount``
exact. Phrase queries score as a pseudo-term with tf = phrase frequency
and idf = sum of the constituent terms' idfs (repeats counted).

The segment scorers below run inside ``applyInPandas`` groups — one group
per segment holds all the query terms' posting blocks for that segment's
docs (the Spark analog of a per-shard query phase). All math is
vectorized numpy; no per-row Python.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd

from opensearch_spark.index import codec

K1 = 1.2
B = 0.75


def idf(df: int, doc_count: int) -> float:
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def tf_norm(tf: np.ndarray, dl_q: np.ndarray, avgdl: float) -> np.ndarray:
    return tf / (tf + K1 * (1.0 - B + B * dl_q / avgdl))


def decode_term_group(
    g: pd.DataFrame, want_positions: bool = False
) -> Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]]:
    """Decode one segment's posting-block rows (any number of blocks and
    generations per term) -> term -> (docs int64 sorted, tfs int64,
    dl_q float64, positions int64 or None), via ``codec.decode_blocks``."""
    from opensearch_spark.search.wand import BlockTable

    table = BlockTable(g, set(g["term"].astype(str)) if want_positions else ())
    return table.decode(np.arange(len(g)))


def score_terms_in_segment(
    decoded: Dict[str, tuple],
    idf_by_term: Dict[str, float],
    avgdl: float,
    operator: str = "or",
    msm: int = 0,
    n_required: int | None = None,
    contrib=None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Sum per-term BM25 over a segment. Returns (docIds, scores) of
    matching docs (operator='and' keeps only docs with ALL terms;
    msm > 1 keeps docs matching at least msm distinct terms).
    ``contrib(term, tf float64, dl_q)`` replaces BM25's per-posting
    score (a scripted similarity).

    ``n_required``: the GLOBAL distinct-term count of the query for
    operator='and'. A term present in the index but absent from THIS
    segment means no doc here can contain it — requiring only the
    segment-present subset would false-positive such docs, so the
    required count must come from the query, not the segment."""
    # canonical (sorted) term order so float accumulation order is
    # deterministic and identical across scorer implementations
    terms = sorted(t for t in idf_by_term if t in decoded)
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if operator == "and" and n_required is not None and len(terms) < n_required:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if contrib is None:
        def contrib(t, tf, dl_q):
            return idf_by_term[t] * (K1 + 1.0) * tf_norm(tf, dl_q, avgdl)
    all_docs = np.concatenate([decoded[t][0] for t in terms])
    contribs = np.concatenate([
        np.asarray(contrib(t, decoded[t][1].astype(np.float64), decoded[t][2]),
                   dtype=np.float64)
        for t in terms])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, contribs)
    nmatch = np.zeros(uniq.size, dtype=np.int64)
    np.add.at(nmatch, inv, 1)
    if operator == "and":
        need = n_required if n_required is not None else len(set(terms))
        keep = nmatch == need
    elif msm > 1:
        keep = nmatch >= msm
    else:
        keep = slice(None)
    return uniq[keep], scores[keep]


def phrase_freq_in_segment(
    decoded: Dict[str, tuple], phrase_terms: Sequence[str]
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact (slop=0) phrase matching within one segment.

    Returns (docIds, phrase_freq, dl_q) for docs containing the phrase.
    decoded must carry positions. Vectorization: (doc, position) pairs are
    packed into int64 keys (doc ordinal << 32 | position); the phrase
    survives where key sets intersect after shifting by the term offset.
    """
    for t in phrase_terms:
        if t not in decoded:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64))
    # candidate docs: present in all phrase terms
    cand = None
    for t in dict.fromkeys(phrase_terms):
        d = decoded[t][0]
        cand = d if cand is None else cand[np.isin(cand, d, assume_unique=True)]
        if cand.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64))

    # map each term's (doc, positions) -> keys restricted to candidates
    keysets: List[np.ndarray] = []
    dl_for_cand = None
    for t in phrase_terms:
        docs, tfs, dl_q, pos = decoded[t]
        sel = np.searchsorted(docs, cand)
        # expand candidate docs' position slices
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        lens = tfs[sel]
        offs = starts[sel]
        doc_ord = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
        idx = np.repeat(offs, lens) + codec.ragged_arange(lens)
        keys = (doc_ord << np.int64(32)) | pos[idx].astype(np.int64)
        keysets.append(np.sort(keys))
        if dl_for_cand is None:
            dl_for_cand = dl_q[sel]

    surv = keysets[0]
    for i in range(1, len(keysets)):
        shifted = keysets[i] - np.int64(i)
        surv = surv[np.isin(surv, shifted, assume_unique=False)]
        if surv.size == 0:
            break
    if surv.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64))
    doc_ord = (surv >> np.int64(32)).astype(np.int64)
    freq = np.bincount(doc_ord, minlength=cand.size)
    hit = freq > 0
    return cand[hit], freq[hit], dl_for_cand[hit]


def sloppy_phrase_freq_in_segment(
    decoded: Dict[str, tuple], phrase_terms: Sequence[str], slop: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sloppy (slop > 0) phrase matching within one segment — exact
    Lucene semantics for distinct-term phrases.

    sloppy_freq follows Lucene's greedy SloppyPhraseMatcher walk (the
    reference reaches it via ``createPhraseQuery(field, text,
    phraseSlop)``, index/search/MatchQuery.java:329-331): each phrase
    term is a cursor over its ADJUSTED positions (position - phrase
    offset); the walk repeatedly advances the minimum cursor, shrinking
    the current window, and whenever the advanced cursor overtakes the
    next-lowest one (or exhausts) the window emits a match iff
    matchLength = end - min <= slop, contributing 1 / (1 + matchLength)
    to the phrase frequency. ``_lucene_sloppy_walk`` is that walk; for
    2-term phrases it reduces to the tie-aware item/boundary form in
    ``_sloppy_2term_boundary`` (property-tested against the walk in
    tests/test_wand.py), which vectorizes across docs.

    Phrases with REPEATED terms run the same walk with Lucene's
    repeat-group bookkeeping (``_lucene_sloppy_walk_rpt``): slots of a
    repeated term form a repeat group (sorted by phrase offset); at
    init the j-th slot of a group is advanced j positions so each slot
    starts on a distinct occurrence, and whenever two slots of a group
    land on the same actual token position (a "collision", detected on
    position + offset) the lesser one advances and displaced queue
    entries are re-queued — SloppyPhraseMatcher.advanceRpts/collide/
    lesser transcribed. Accumulation is
    exact: each emitted weight 1/(1+matchLength) is summed as the
    integer numerator lcm(1..slop+1)/(1+matchLength) and divided once
    at the end, so the result is association-order-free and bitwise
    reproducible by the SQL oracle (float64 fallback past slop 41;
    Lucene itself accumulates float32 — same walk, same weights).

    Returns (docIds, sloppy_freq float64, dl_q) for matching docs.
    """
    empty = (np.empty(0, np.int64), np.empty(0, np.float64),
             np.empty(0, np.float64))
    for t in phrase_terms:
        if t not in decoded:
            return empty
    rpt_groups = _repeat_groups(phrase_terms)

    # candidate docs: present in all phrase terms (Lucene conjunction)
    cand = None
    for t in dict.fromkeys(phrase_terms):
        d = decoded[t][0]
        cand = d if cand is None else cand[np.isin(cand, d, assume_unique=True)]
        if cand.size == 0:
            return empty

    # expand each term's positions over the candidates, adjusted by the
    # phrase offset so an exact phrase has equal adjusted positions
    doc_parts, pos_parts, lbl_parts = [], [], []
    dl_for_cand = None
    for off, t in enumerate(phrase_terms):
        docs, tfs, dl_q, pos = decoded[t]
        sel = np.searchsorted(docs, cand)
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        lens = tfs[sel]
        idx = np.repeat(starts[sel], lens) + codec.ragged_arange(lens)
        doc_parts.append(np.repeat(np.arange(cand.size, dtype=np.int64), lens))
        pos_parts.append(pos[idx].astype(np.int64) - off)
        lbl_parts.append(np.full(int(lens.sum()), off, dtype=np.int64))
        if dl_for_cand is None:
            dl_for_cand = dl_q[sel]

    doc_all = np.concatenate(doc_parts)
    pos_all = np.concatenate(pos_parts)
    lbl_all = np.concatenate(lbl_parts)
    # (doc, adjusted pos, phrase offset) — the offset tiebreak mirrors
    # Lucene's PhrasePositions priority-queue ordering
    order = np.lexsort((lbl_all, pos_all, doc_all))
    doc_s, pos_s, lbl_s = doc_all[order], pos_all[order], lbl_all[order]
    if len(phrase_terms) == 2 and not rpt_groups:
        freq = _sloppy_2term_boundary(doc_s, pos_s, lbl_s, slop, cand.size)
    else:
        freq = np.zeros(cand.size, dtype=np.float64)
        k = len(phrase_terms)
        cuts = np.flatnonzero(np.diff(doc_s)) + 1
        doc_ids = doc_s[np.concatenate(([0], cuts))]
        for dord, pg, lg in zip(doc_ids, np.split(pos_s, cuts),
                                np.split(lbl_s, cuts)):
            pls = [pg[lg == i] for i in range(k)]
            if rpt_groups:
                freq[dord] = _lucene_sloppy_walk_rpt(pls, slop, rpt_groups)
            else:
                freq[dord] = _lucene_sloppy_walk(pls, slop)

    hit_ord = np.flatnonzero(freq > 0)
    return cand[hit_ord], freq[hit_ord], dl_for_cand[hit_ord]


def _sloppy_2term_boundary(
    doc_s: np.ndarray, pos_s: np.ndarray, lbl_s: np.ndarray,
    slop: int, n_docs: int,
) -> np.ndarray:
    """Vectorized 2-term Lucene sloppy walk over (doc, adjusted pos,
    label) triples sorted by (doc, pos, lbl).

    Reduction (property-tested against ``_lucene_sloppy_walk`` in
    tests/test_wand.py): collapse each TIE — both terms at the same
    adjusted position, i.e. an exact-phrase occurrence — into one item.
    In the walk, a tied element joins the currently-advancing run, so a
    tie always emits one matchLength-0 match and flips the active
    label. A single item emits iff its label differs from the active
    ("exit") label of the previous item, with matchLength = gap to that
    item. The exit label has the closed form
        exit(i) = lbl(last single <= i)  XOR  parity(#ties since it)
    (0-init when no single precedes in the doc — Lucene's queue breaks
    the initial tie by phrase offset). This keeps the hot path free of
    per-doc Python loops.
    """
    freq = np.zeros(n_docs, dtype=np.float64)
    n = doc_s.size
    if n == 0:
        return freq
    same_doc = doc_s[1:] == doc_s[:-1]
    tie_second = np.zeros(n, dtype=bool)
    tie_second[1:] = same_doc & (pos_s[1:] == pos_s[:-1])
    keep = ~tie_second
    is_tie = np.zeros(n, dtype=bool)
    is_tie[:-1] = tie_second[1:]
    doc_i = doc_s[keep]
    pos_i = pos_s[keep]
    lbl_i = lbl_s[keep]
    tie_i = is_tie[keep]
    m = doc_i.size
    idxs = np.arange(m, dtype=np.int64)
    doc_first = np.ones(m, dtype=bool)
    doc_first[1:] = doc_i[1:] != doc_i[:-1]

    cum_ties = np.cumsum(tie_i.astype(np.int64))
    # forward-filled index of the last SINGLE item, clamped per doc
    anchor = np.maximum.accumulate(np.where(~tie_i, idxs, -1))
    doc_start = np.maximum.accumulate(np.where(doc_first, idxs, -1))
    valid = anchor >= doc_start
    anc = np.clip(anchor, 0, m - 1)
    cum_before_doc = cum_ties[doc_start] - tie_i[doc_start].astype(np.int64)
    last_lbl = np.where(valid, lbl_i[anc], 0)
    cum_anchor = np.where(valid, cum_ties[anc], cum_before_doc)
    exit_after = last_lbl ^ ((cum_ties - cum_anchor) & 1)

    L = _slop_lcm(slop, n_adds=m + 1)
    exit_before = np.zeros(m, dtype=np.int64)
    exit_before[1:] = exit_after[:-1]
    single_emit = np.zeros(m, dtype=bool)
    single_emit[1:] = (~tie_i[1:]) & (~doc_first[1:]) & (
        lbl_i[1:] != exit_before[1:])
    w = np.zeros(m, dtype=np.int64)
    w[1:] = pos_i[1:] - pos_i[:-1]
    single_emit &= w <= slop
    if L is not None:
        num = np.zeros(n_docs, dtype=np.int64)
        np.add.at(num, doc_i[tie_i], L)
        np.add.at(num, doc_i[single_emit], L // (1 + w[single_emit]))
        return num / float(L)
    np.add.at(freq, doc_i[tie_i], 1.0)
    np.add.at(freq, doc_i[single_emit],
              1.0 / (1.0 + w[single_emit].astype(np.float64)))
    return freq


def _slop_lcm(slop: int, n_adds: int = 1):
    """lcm(1..slop+1) when summing up to ``n_adds`` such numerators
    stays safely inside int64, else None (callers fall back to float64
    accumulation — the documented approximate path for pathological
    slop/multiplicity combinations; review r4 found slop=41 overflows
    after only 42 additions)."""
    if slop < 0:
        return None
    from math import lcm

    try:
        L = lcm(*range(1, slop + 2))
    except OverflowError:  # pragma: no cover
        return None
    if L * max(int(n_adds), 1) >= (1 << 62):
        return None
    return L


def _lucene_sloppy_walk(poslists: Sequence[np.ndarray], slop: int) -> float:
    """Lucene SloppyPhraseMatcher's greedy match walk over ONE document
    (distinct-term phrase, so no repeat groups). ``poslists[i]`` holds
    term i's ascending adjusted positions; all lists non-empty. Returns
    sum(1 / (1 + matchLength)) over the emitted matches, accumulated
    exactly via the lcm(1..slop+1) integer numerator (arbitrary-
    precision when slop > 41). Cursor ties break by phrase offset, as
    Lucene's queue does."""
    import heapq
    from math import lcm

    L = _slop_lcm(slop)
    if L is None and slop >= 0:
        L = lcm(*range(1, slop + 2))  # Python ints: no overflow
    idx = [0] * len(poslists)
    heap = [(int(pl[0]), i) for i, pl in enumerate(poslists)]
    heapq.heapify(heap)
    end = max(p for p, _ in heap)
    total = 0
    pos, i = heapq.heappop(heap)
    match_length = end - pos
    nxt = heap[0][0]
    while True:
        idx[i] += 1
        if idx[i] == len(poslists[i]):
            if match_length <= slop:
                total += L // (1 + match_length)
            return total / L
        p = int(poslists[i][idx[i]])
        if p > end:
            end = p
        if p > nxt:
            heapq.heappush(heap, (p, i))
            if match_length <= slop:
                total += L // (1 + match_length)
            pos, i = heapq.heappop(heap)
            nxt = heap[0][0]
            match_length = end - pos
        else:
            match_length = min(match_length, end - p)


def _repeat_groups(phrase_terms: Sequence[str]):
    """Lucene SloppyPhraseMatcher repeat groups for a plain (single
    term per position) phrase: the slots (phrase offsets) of each term
    occurring more than once, in ascending-offset order — exactly what
    gatherRptGroups/sortRptGroups produce for the non-multi-term case
    (distinct terms can never share a token position, so tpPos-based
    grouping reduces to same-term grouping). Empty list = no repeats."""
    by_term: Dict[str, list] = {}
    for off, t in enumerate(phrase_terms):
        by_term.setdefault(t, []).append(off)
    return [slots for slots in by_term.values() if len(slots) > 1]


def _lucene_sloppy_walk_rpt(
    poslists: Sequence[np.ndarray], slop: int, rpt_groups
) -> float:
    """Lucene SloppyPhraseMatcher's greedy walk over ONE document WITH
    repeat-group bookkeeping (phrase contains repeated terms; reference
    reaches it via MatchQuery.java:329-331 -> Lucene SloppyPhraseMatcher
    initComplex/advanceRpts/collide/lesser):

    - init (advanceRepeatGroups, simple branch): the j-th slot of a
      repeat group starts on the term's j-th occurrence, so no two
      slots of one group share a token position; exhaustion here means
      the doc has fewer occurrences than slots -> freq 0;
    - the walk advances the minimum cursor (order: adjusted position,
      then phrase offset — PhraseQueue's comparator); after each
      advance, a COLLISION (two slots of one group on the same actual
      token position, tpPos = adjusted pos + offset) is resolved by
      advancing the LESSER of the two (by position then offset),
      chasing the chain until collision-free or exhausted
      (advanceRpts); Lucene's bit-marked partial re-queue is exactly
      a re-heap of the moved cursors, which the linear-scan min here
      performs implicitly;
    - `next` is captured only at match boundaries (stale across
      advanceRpts moves, as in Lucene), `end` is maintained by every
      advance; emission and the final-exhaustion emit mirror
      nextMatch()'s control flow.

    Accumulation is the exact lcm(1..slop+1) integer numerator (see
    _lucene_sloppy_walk). ``poslists[i]`` = slot i's ascending adjusted
    positions (all non-empty); ``rpt_groups`` from _repeat_groups."""
    from math import lcm

    L = _slop_lcm(slop)
    if L is None and slop >= 0:
        L = lcm(*range(1, slop + 2))  # Python ints: no overflow
    k = len(poslists)
    idx = [0] * k
    pos = [int(pl[0]) for pl in poslists]
    grp = [-1] * k
    for g, slots in enumerate(rpt_groups):
        for s in slots:
            grp[s] = g

    # advanceRepeatGroups (simple branch): slot j advances j positions
    for slots in rpt_groups:
        for j in range(1, len(slots)):
            s = slots[j]
            if j >= len(poslists[s]):
                return 0.0  # PPs exhausted at init -> not positioned
            idx[s] = j
            pos[s] = int(poslists[s][j])
    end = max(pos)

    def advance(i: int) -> bool:
        """advancePP: next position for slot i, maintain end."""
        nonlocal end
        idx[i] += 1
        if idx[i] >= len(poslists[i]):
            return False
        pos[i] = int(poslists[i][idx[i]])
        if pos[i] > end:
            end = pos[i]
        return True

    def advance_rpts(i: int) -> bool:
        """Resolve repeater collisions caused by advancing slot i."""
        g = grp[i]
        if g < 0:
            return True
        slots = rpt_groups[g]
        while True:
            tp = pos[i] + i
            other = -1
            for s in slots:
                if s != i and pos[s] + s == tp:
                    other = s
                    break
            if other < 0:
                return True
            if (pos[other], other) < (pos[i], i):
                i = other  # lesser: advance the lower (position, offset)
            if not advance(i):
                return False

    in_queue = set(range(k))

    def pop_min() -> int:
        m = min(in_queue, key=lambda s: (pos[s], s))
        in_queue.discard(m)
        return m

    total = 0
    pp = pop_min()
    match_length = end - pos[pp]
    nxt = min(pos[s] for s in in_queue)
    while True:
        if not advance(pp):
            break
        if not advance_rpts(pp):
            break
        if pos[pp] > nxt:
            in_queue.add(pp)
            if match_length <= slop:
                total += L // (1 + match_length)
            pp = pop_min()
            nxt = min(pos[s] for s in in_queue)
            match_length = end - pos[pp]
        else:
            ml2 = end - pos[pp]
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        total += L // (1 + match_length)
    return total / L


def topk_by_score(docs: np.ndarray, scores: np.ndarray, k: int) -> Tuple[np.ndarray, np.ndarray]:
    """Top-k by (score desc, docId asc) — the reference's merge comparator
    modulo internal-Lucene-docID ties (SURVEY.md §2.7)."""
    if docs.size <= k:
        order = np.lexsort((docs, -scores))
        return docs[order], scores[order]
    # partial select then exact sort of the selected slice
    idx = np.argpartition(-scores, k - 1)[: k + 64]  # small over-select for ties
    # ensure all score-ties at the boundary are considered: fall back to
    # full sort when the over-selection may have cut a tie group
    order = np.lexsort((docs[idx], -scores[idx]))
    sel = idx[order][:k]
    kth = scores[sel[-1]]
    n_tied_total = int((scores >= kth).sum())
    if n_tied_total > sel.size and (scores[sel] == kth).any():
        order = np.lexsort((docs, -scores))
        sel = order[:k]
    return docs[sel], scores[sel]
