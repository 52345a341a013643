"""One program scorer with block-max pruning, over one block table.

Reference behavior (SURVEY.md §4.2): Lucene's TopScoreDocCollector raises
``minCompetitiveScore`` once the per-shard heap holds k docs, letting the
scorer skip posting blocks whose max impact cannot beat it (block-max
WAND); conjunctions lead with their sparsest clause and advance the
others with skip pointers (``ConjunctionDISI``). The same information
lives in our postings: every 128-doc block row carries
``(first_doc, last_doc, max_tf, min_dl_q)``, so
``ub(block) = idf * (k1+1) * max_tf / (max_tf + k1*(1-b+b*min_dl_q/avgdl))``
bounds any score contribution from that block (impact is increasing in tf
and decreasing in dl; storing the pieces instead of the value keeps the
bound valid when avgdl drifts under incremental updates).

A ``BlockTable`` holds block rows (Arrow byte buffers, numpy block
metadata) plus a decode cache, shared by every program scored against
it: one segment's rows for one Spark task's group on the Spark path;
every segment's rows, for the engine's life, in the driver tier's one
resident table. Rows of several segments or generations overlap in doc
ranges, and each term's docs are merge-sorted at decode; since every
docId lives in one segment and scores use global idf/avgdl, one table
over all segments gives the same top-k as per-segment tables merged by
(score desc, docId asc), and MaxScore's θ over the whole index is a
higher, still valid floor (``add_batch`` refuses docIds already
indexed, so no docId spans two segments).

``score_program`` runs a match (or/and/msm), phrase, sloppy phrase, or
bool-of-those program (``msearch.Program``) in four steps:

 1. pruning picks which block rows to decode —
    - a lone OR clause scored by BM25 runs MaxScore: the strongest
      term's k-th best contribution θ is a floor for the k-th score;
      terms whose bound suffix is below θ are non-essential, and an
      essential term's block is skipped when its bound plus every other
      term's bound is below θ;
    - any other program with a required clause intersects the required
      clauses' doc sets, sparsest first, decoding only blocks that
      overlap the running candidates;
    - ``k=None`` (or no required clause) selects every row.
    Either way, every doc that can reach the top-k keeps all its blocks
    (in every clause, must_not included);
 2. one decode of the selected rows (``codec.decode_blocks``);
 3. one combine with ``msearch._run_program``;
 4. top-k by (score desc, docId asc).

Pruning only changes which bytes get decoded: the top-k equals full
decode plus ``_run_program``, and one table over several segments gives
the merged per-segment top-k (tests/test_wand.py).
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from opensearch_spark.analysis.smallfloat import decode_norms_np
from opensearch_spark.index import codec
from opensearch_spark.search import bm25, msearch as M

K1 = bm25.K1
B = bm25.B

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


_BYTE_COLS = ("doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes")
_COLS = ("term", "block_no", "first_doc", "last_doc", "n_docs", "max_tf", "min_dl_q") + _BYTE_COLS


class BlockTable:
    """Posting-block rows of one segment or of many (an Arrow table, or
    a pandas frame converted to one) in (term, first_doc, block_no)
    order — terms dictionary coded, byte columns left in their Arrow
    buffers, rows already in order not re-sorted — with a decode cache:
    each row is decoded at most once, into a fixed slot. Rows of
    ``pos_terms`` and of later ``want_positions`` terms also decode
    positions (a row decoded before without them is decoded again)."""

    def __init__(self, rows, pos_terms: Iterable[str] = ()):
        if isinstance(rows, pd.DataFrame):  # without pandas metadata: 4x cheaper
            rows = pa.table({c: rows[c].to_numpy() for c in _COLS})
        enc = pc.dictionary_encode(rows.column("term").cast(pa.string()).combine_chunks())
        names = enc.dictionary.to_numpy(zero_copy_only=False)
        code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if names.size > 1 and not (names[1:] > names[:-1]).all():
            rank = np.empty(names.size, dtype=np.int64)
            rank[np.argsort(names, kind="stable")] = np.arange(names.size)
            names, code = np.sort(names), rank[code]

        def col(c: str, dtype) -> np.ndarray:
            return rows.column(c).to_numpy().astype(dtype, copy=False)

        first, bno = col("first_doc", np.int64), col("block_no", np.int64)
        dc, dfirst = np.diff(code), np.diff(first)
        order = slice(None)
        if not ((dc > 0) | ((dc == 0) & ((dfirst > 0) | ((dfirst == 0) & (np.diff(bno) >= 0))))).all():
            order = np.lexsort((bno, first, code))
        self.code = code[order]
        self.first = first[order]
        self.last = col("last_doc", np.int64)[order]
        self.n_docs = col("n_docs", np.int64)[order]
        self.max_tf = col("max_tf", np.float64)[order]
        self.min_dl = col("min_dl_q", np.float64)[order]
        self._bytes = {}  # column -> (data uint8, row start, row length)
        for c in _BYTE_COLS:
            a = rows.column(c).cast(pa.large_binary()).combine_chunks()
            bufs = a.buffers()
            off = (np.frombuffer(bufs[1], np.int64, len(a) + 1, a.offset * 8) if len(a)
                   else np.zeros(1, np.int64))
            data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
            self._bytes[c] = (data, off[:-1][order], np.diff(off)[order])
        self.names = names
        self._term = dict(zip(names.tolist(), range(names.size)))
        self._bounds = np.searchsorted(self.code, np.arange(names.size + 1))
        self._want_pos = np.zeros(names.size, dtype=bool)
        self.want_positions(pos_terms)
        n = self.n_docs
        self._off = np.cumsum(n) - n                      # row -> slot of its docs
        self._done = np.zeros(n.size, dtype=bool)         # docs/tfs/norms decoded
        self._pos_off = np.full(n.size, -1, np.int64)     # row -> slot of its positions
        self._occ = np.zeros(n.size, dtype=np.int64)      # row -> positions count
        total = int(n.sum())
        self._docs = np.empty(total, np.int64)
        self._tfs = np.empty(total, np.int64)
        self._dlq = np.empty(total, np.float64)
        self._pos = np.empty(0, np.int64)
        self._pos_used = 0
        self.n_decodes = 0  # rows decoded so far (cache misses)

    def want_positions(self, terms: Iterable[str]) -> None:
        """From now on, decode returns positions for these terms."""
        for t in terms:
            i = self._term.get(t)
            if i is not None:
                self._want_pos[i] = True

    def rows(self, term: str) -> np.ndarray:
        i = self._term.get(term)
        if i is None:
            return np.empty(0, dtype=np.int64)
        return np.arange(self._bounds[i], self._bounds[i + 1], dtype=np.int64)

    def df(self, term: str) -> int:
        return int(self.n_docs[self.rows(term)].sum())

    def block_ub(self, term: str, idf: float, avgdl: float) -> np.ndarray:
        """Per-row score bound, associated like ``bm25`` contributions so
        the bound at (max_tf, min_dl_q) equals that posting's score."""
        r = self.rows(term)
        tf = self.max_tf[r]
        return idf * (K1 + 1.0) * bm25.tf_norm(tf, self.min_dl[r], avgdl)

    def overlapping(self, term: str, cand: np.ndarray) -> np.ndarray:
        """Rows of ``term`` whose [first, last] doc range holds at least
        one of the sorted candidates (the skip-pointer test)."""
        r = self.rows(term)
        lo = np.searchsorted(cand, self.first[r], side="left")
        hi = np.searchsorted(cand, self.last[r], side="right")
        return r[hi > lo]

    def n_decoded(self, rows: np.ndarray) -> int:
        return int(self._done[rows].sum())

    def _stream(self, c: str, sel: np.ndarray) -> np.ndarray:
        """The selected rows' bytes of one column, joined in row order."""
        data, start, size = self._bytes[c]
        n = size[sel]
        return data[np.repeat(start[sel], n) + codec.ragged_arange(n)]

    def _ensure(self, rows: np.ndarray) -> None:
        pos = self._want_pos[self.code[rows]]
        for sel, with_pos in ((rows[~pos & ~self._done[rows]], False),
                              (rows[pos & (self._pos_off[rows] < 0)], True)):
            if sel.size == 0:
                continue
            docs, tfs, norms, p = codec.decode_blocks(
                self.n_docs[sel], *(self._stream(c, sel) for c in _BYTE_COLS[:3]),
                self._stream("pos_bytes", sel) if with_pos else None)
            n = self.n_docs[sel]
            idx = np.repeat(self._off[sel], n) + codec.ragged_arange(n)
            self._docs[idx], self._tfs[idx] = docs, tfs
            self._dlq[idx] = decode_norms_np(norms)
            self._done[sel] = True
            self.n_decodes += int(sel.size)
            if with_pos:
                occ = np.add.reduceat(tfs, np.cumsum(n) - n)
                used = self._pos_used
                if used + p.size > self._pos.size:
                    grown = np.empty(max(2 * self._pos.size, used + p.size), np.int64)
                    grown[:used] = self._pos[:used]
                    self._pos = grown
                self._pos[used:used + p.size] = p
                self._occ[sel] = occ
                self._pos_off[sel] = used + np.cumsum(occ) - occ
                self._pos_used = used + p.size

    def decode(self, rows: np.ndarray) -> Dict[str, tuple]:
        """Selected rows -> term -> (docs sorted, tfs, dl_q, positions
        or None), the ``decoded`` dict the bm25/msearch scorers read."""
        rows = np.unique(np.asarray(rows, dtype=np.int64))
        self._ensure(rows)
        n = self.n_docs[rows]
        idx = np.repeat(self._off[rows], n) + codec.ragged_arange(n)
        docs, tfs, dlq = self._docs[idx], self._tfs[idx], self._dlq[idx]
        code = self.code[rows]
        prow = rows[self._want_pos[code]]
        occ = self._occ[prow]
        pos = self._pos[np.repeat(self._pos_off[prow], occ) + codec.ragged_arange(occ)]
        out: Dict[str, tuple] = {}
        ends = np.concatenate(([0], np.cumsum(n)))
        p = 0
        for ti in np.unique(code):
            lo, hi = np.searchsorted(code, [ti, ti + 1])
            a, e = int(ends[lo]), int(ends[hi])
            tp = None
            if self._want_pos[ti]:
                m = int(tfs[a:e].sum())
                tp, p = pos[p:p + m], p + m
            out[self.names[ti]] = codec.merge_generations(docs[a:e], tfs[a:e], dlq[a:e], tp)
        return out


def _docs_of(table: BlockTable, term: str, rows: np.ndarray) -> np.ndarray:
    got = table.decode(rows).get(term)
    return got[0] if got is not None else np.empty(0, np.int64)


def _maxscore_rows(table: BlockTable, terms: List[str], idfs: Dict[str, float],
                   avgdl: float, k: int) -> np.ndarray:
    """MaxScore row selection for a lone OR clause."""
    ub = {t: table.block_ub(t, idfs[t], avgdl) for t in terms}
    names = sorted(terms, key=lambda t: -float(ub[t].max()))
    term_ub = np.array([float(ub[t].max()) for t in names])
    d0, f0, l0, _ = table.decode(table.rows(names[0]))[names[0]]
    c0 = idfs[names[0]] * (K1 + 1.0) * bm25.tf_norm(f0.astype(np.float64), l0, avgdl)
    theta = float(np.partition(c0, -k)[-k]) if c0.size >= k else 0.0
    suffix = np.cumsum(term_ub[::-1])[::-1]
    parts = [d0]
    for j in range(1, len(names)):
        if suffix[j] < theta:
            break  # only non-essential terms remain
        t = names[j]
        keep = table.rows(t)[ub[t] + (term_ub.sum() - term_ub[j]) >= theta]
        parts.append(_docs_of(table, t, keep))
    cand = np.unique(np.concatenate(parts))
    return np.concatenate([table.overlapping(t, cand) for t in names])


def _lead_rows(table: BlockTable, prog: M.Program, terms: List[str]) -> np.ndarray:
    """Skip-intersection row selection: candidates are the docs every
    required clause can hold (sparsest clause first); every clause then
    decodes only blocks overlapping them."""
    def est(c: M._Clause) -> int:
        sizes = [table.df(t) for t in c.terms]
        return min(sizes) if (c.kind == "phrase" or c.operator == "and") else sum(sizes)

    cand: Optional[np.ndarray] = None
    req = [c for c in prog.clauses if c.occur in ("must", "filter")]
    for c in sorted(req, key=est):
        def rows(t: str) -> np.ndarray:
            return table.rows(t) if cand is None else table.overlapping(t, cand)

        if c.kind == "match" and c.operator == "or":
            docs = np.unique(np.concatenate(
                [np.empty(0, np.int64)] + [_docs_of(table, t, rows(t)) for t in set(c.terms)]))
            cand = docs if cand is None else cand[np.isin(cand, docs, assume_unique=True)]
        else:
            for t in sorted(set(c.terms), key=table.df):
                docs = _docs_of(table, t, rows(t))
                cand = docs if cand is None else cand[np.isin(cand, docs, assume_unique=True)]
        if cand.size == 0:
            return np.empty(0, dtype=np.int64)
    return np.concatenate([table.overlapping(t, cand) for t in terms])


def _select_rows(table: BlockTable, prog: M.Program, terms: List[str], rows: np.ndarray,
                 idfs: Dict[str, float], avgdl: float, k: Optional[int]) -> np.ndarray:
    """Block rows to decode for ``prog`` (``rows`` = all of its terms'
    rows): every doc that can reach the top-k keeps all of its blocks."""
    if k is None:
        return rows
    lone = prog.clauses[0] if len(prog.clauses) == 1 else None
    # block bounds are BM25's: a program under another similarity skips
    # MaxScore (the skip intersection does not read scores)
    if (lone is not None and prog.contrib is None
            and lone.kind == "match" and lone.operator == "or"
            and lone.msm <= 1 and lone.weight > 0 and prog.boost > 0
            and (lone.occur == "must" or (lone.occur == "should" and prog.bool_msm <= 1))):
        return _maxscore_rows(table, [t for t in terms if table.rows(t).size], idfs, avgdl, k)
    if any(c.occur in ("must", "filter") for c in prog.clauses):
        return _lead_rows(table, prog, terms)
    return rows


def score_program(table: BlockTable, prog: M.Program, idfs: Dict[str, float],
                  avgdl: float, k: Optional[int]) -> Tuple[np.ndarray, np.ndarray, dict]:
    """(docIds, scores, {"decoded", "total"} blocks) of ``prog`` over
    ``table``: its top-k by (score desc, docId asc), or every match when
    ``k`` is None."""
    terms = sorted({t for c in prog.clauses for t in c.terms})
    table.want_positions(M.position_terms([prog]))
    rows = np.concatenate([np.empty(0, np.int64)] + [table.rows(t) for t in terms])
    docs, scores = _EMPTY
    if rows.size and not prog.match_none:
        decoded = table.decode(_select_rows(table, prog, terms, rows, idfs, avgdl, k))
        docs, scores = M._run_program(prog, decoded, idfs, avgdl)
        if k is not None:
            docs, scores = bm25.topk_by_score(docs, scores, k)
        if prog.boost != 1.0:
            scores = scores * prog.boost
    return docs, scores, {"decoded": table.n_decoded(rows), "total": int(rows.size)}


def score_match_topk(
    pdf: pd.DataFrame,
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    operator: str = "or",
    msm: int = 0,
    boost: float = 1.0,
) -> Tuple[np.ndarray, np.ndarray, dict]:
    """Pruned top-k match over one segment's block rows (a one-clause
    program)."""
    clause = {"occur": "must", "kind": "match", "terms": list(idfs),
              "operator": operator, "msm": msm, "weight": boost}
    return score_program_topk(pdf, [clause], 0, idfs, avgdl, k)


def score_phrase_topk(
    pdf: pd.DataFrame,
    phrase_terms: List[str],
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    boost: float = 1.0,
) -> Tuple[np.ndarray, np.ndarray, dict]:
    """Pruned top-k exact phrase over one segment's block rows (a
    one-clause program)."""
    clause = {"occur": "must", "kind": "phrase", "terms": list(phrase_terms), "weight": boost}
    return score_program_topk(pdf, [clause], 0, idfs, avgdl, k)


def score_program_topk(
    pdf: pd.DataFrame,
    clauses: List[dict],
    bool_msm: int,
    idfs: Dict[str, float],
    avgdl: float,
    k: int,
    boost: float = 1.0,
) -> Tuple[np.ndarray, np.ndarray, dict]:
    """Pruned top-k of a bool program over one segment's block rows.
    ``clauses``: [{occur, kind(match|phrase), terms, operator, msm,
    weight[, slop]}]."""
    prog = M.Program(qid=0, clauses=[M._Clause(**c) for c in clauses],
                     bool_msm=bool_msm, boost=boost)
    prog.n_must = sum(1 for c in prog.clauses if c.occur in ("must", "filter"))
    return score_program(BlockTable(pdf, M.position_terms([prog])), prog, idfs, avgdl, k)
