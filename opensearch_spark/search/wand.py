"""One program scorer with block-max pruning, over one block table.

Reference behavior (SURVEY.md §4.2): Lucene's TopScoreDocCollector raises
``minCompetitiveScore`` once the per-shard heap holds k docs, letting the
scorer skip posting blocks whose max impact cannot beat it (block-max
WAND); conjunctions lead with their sparsest clause and advance the
others with skip pointers (``ConjunctionDISI``). A ``BlockTable`` keeps
the same information per block of its decoded postings,
``(first, last, max_tf, min_dl_q)``, so
``ub(block) = idf * (k1+1) * max_tf / (max_tf + k1*(1-b+b*min_dl_q/avgdl))``
bounds any score contribution from that block (impact is increasing in tf
and decreasing in dl; keeping the pieces instead of the value keeps the
bound valid when avgdl drifts under incremental updates).

A ``BlockTable`` decodes its block rows once, when it is built, and is
shared by every program scored against it: one segment's rows for one
Spark task's group on the Spark path; every segment's rows, for the
engine's life, in the driver tier's one resident table. Rows of several
segments or generations overlap in doc ranges, so the build merges each
term's postings into docId order and re-cuts them into non-overlapping
blocks (the reference merges segments when it writes them; the resident
table merges them when it loads); since every
docId lives in one segment and scores use global idf/avgdl, one table
over all segments gives the same top-k as per-segment tables merged by
(score desc, docId asc), and MaxScore's θ over the whole index is a
higher, still valid floor (``add_batch`` refuses docIds already
indexed, so no docId spans two segments).

``score_program`` runs a match (or/and/msm), phrase, sloppy phrase, or
bool-of-those program (``msearch.Program``) in four steps:

 1. pruning picks which block rows to score —
    - a lone OR clause scored by BM25 runs MaxScore: the strongest
      term's k-th best contribution θ is a floor for the k-th score;
      terms whose bound suffix is below θ are non-essential, and an
      essential term's block is skipped when its bound plus every other
      term's bound is below θ;
    - any other program with a required clause intersects the required
      clauses' doc sets, sparsest first, reading only blocks that
      overlap the running candidates;
    - ``k=None`` (or no required clause) selects every row.
    Either way, every doc that can reach the top-k keeps all its blocks
    (in every clause, must_not included);
 2. one read of the selected rows' postings (``BlockTable.decode``: a
    slice per term whose selected rows are adjacent, else a gather);
 3. one combine with ``msearch._run_program``;
 4. top-k by (score desc, docId asc).

Pruning only changes which postings get scored: the top-k equals
scoring every row with ``_run_program``, and one table over several segments gives
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
_COLS = ("term", "n_docs") + _BYTE_COLS


class BlockTable:
    """Posting-block rows of one segment or of many (an Arrow table, or
    a pandas frame converted to one), decoded once when the table is
    built: every term's postings of every segment and generation, put
    in docId order by one stable argsort on (term, docId rank), are kept
    as flat arrays (docs, tfs, dl_q, and the positions of ``pos_terms``,
    every term's when None) and re-cut into non-overlapping blocks of
    the input's block size, whose ``first``/``last``/``max_tf``/``min_dl``
    are computed from the postings. ``ids``: the sorted docIds the rows
    may hold (the unique posting docIds when None). ``decode`` then
    only slices."""

    def __init__(self, rows, pos_terms: Optional[Iterable[str]] = None,
                 ids: Optional[np.ndarray] = None):
        if isinstance(rows, pd.DataFrame):  # without pandas metadata: 4x cheaper
            rows = pa.table({c: rows[c].to_numpy() for c in _COLS})
        enc = pc.dictionary_encode(rows.column("term").cast(pa.string()).combine_chunks())
        names = enc.dictionary.to_numpy(zero_copy_only=False)
        code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if names.size > 1 and not (names[1:] > names[:-1]).all():
            order = np.argsort(names, kind="stable")
            rank = np.empty(names.size, dtype=np.int64)
            rank[order] = np.arange(names.size)
            names, code = names[order], rank[code]
        n = rows.column("n_docs").to_numpy().astype(np.int64)
        docs, tfs, norms, _ = codec.decode_blocks(n, *(_stream(rows, c) for c in _BYTE_COLS[:3]))
        pcode = np.repeat(code, n)
        has_pos = np.ones(names.size, bool) if pos_terms is None else np.isin(names, list(pos_terms))
        occ = np.where(has_pos[pcode], tfs, 0)
        pos = codec.decode_block_positions(
            _stream(rows, "pos_bytes", has_pos[code]), occ) if has_pos.any() else occ[:0]
        ids = np.unique(docs) if ids is None else ids
        rank = pc.index_in(docs, value_set=pa.array(ids))  # a hash lookup, not a search
        if rank.null_count:
            raise ValueError("the postings hold a docId that the docstats lack")
        key = pcode * ids.size + rank.to_numpy()
        self.names = names
        self._term = dict(zip(names.tolist(), range(names.size)))
        self._has_pos = has_pos
        self._pstart = np.concatenate(([0], np.cumsum(occ)))  # posting -> its positions
        if (np.diff(key) < 0).any():
            order = np.argsort(key, kind="stable")
            occ, pcode = occ[order], pcode[order]
            pos = pos[np.repeat(self._pstart[:-1][order], occ) + codec.ragged_arange(occ)]
            docs, tfs, norms = docs[order], tfs[order], norms[order]
            self._pstart = np.concatenate(([0], np.cumsum(occ)))
        self._docs, self._tfs, self._dlq, self._pos = docs, tfs, decode_norms_np(norms), pos
        # re-cut: each term's postings in blocks of the input's block size
        tb = np.searchsorted(pcode, np.arange(names.size + 1))  # term -> postings
        size = max(int(n.max()) if n.size else 1, 1)
        nb = (np.diff(tb) + size - 1) // size
        self.code = np.repeat(np.arange(names.size, dtype=np.int64), nb)
        start = tb[self.code] + size * codec.ragged_arange(nb)
        self._start = np.append(start, docs.size)  # row -> its postings
        self.n_docs = np.diff(self._start)
        self.first = docs[start]
        self.last = docs[self._start[1:] - 1]
        self.max_tf = (np.maximum.reduceat(tfs, start) if start.size else tfs[:0]).astype(np.float64)
        self.min_dl = np.minimum.reduceat(self._dlq, start) if start.size else self._dlq[:0]
        self._bounds = np.searchsorted(self.code, np.arange(names.size + 1))

    @property
    def nbytes(self) -> int:
        """Bytes of the decoded postings and the block metadata."""
        return sum(a.nbytes for a in vars(self).values() if isinstance(a, np.ndarray))

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
        return idf * (K1 + 1.0) * bm25.tf_norm(self.max_tf[r], self.min_dl[r], avgdl)

    def overlapping(self, term: str, cand: np.ndarray) -> np.ndarray:
        """Rows of ``term`` whose [first, last] doc range holds at least
        one of the sorted candidates (the skip-pointer test)."""
        r = self.rows(term)
        lo = np.searchsorted(cand, self.first[r], side="left")
        hi = np.searchsorted(cand, self.last[r], side="right")
        return r[hi > lo]

    def _postings(self, rows: np.ndarray):
        """Posting index of one term's sorted rows: a slice when the rows
        are adjacent, else a gather."""
        if rows.size and rows[-1] - rows[0] == rows.size - 1:
            return slice(int(self._start[rows[0]]), int(self._start[rows[-1] + 1]))
        n = self.n_docs[rows]
        return np.repeat(self._start[rows], n) + codec.ragged_arange(n)

    def docs(self, rows: np.ndarray) -> np.ndarray:
        """Sorted docs of one term's ``rows``."""
        return self._docs[self._postings(np.unique(rows))]

    def decode(self, rows: np.ndarray, pos_terms: Iterable[str] = ()) -> Dict[str, tuple]:
        """Selected rows -> term -> (docs sorted, tfs, dl_q, positions for
        ``pos_terms`` or None), the ``decoded`` dict the bm25/msearch
        scorers read."""
        rows, pos_terms = np.unique(np.asarray(rows, dtype=np.int64)), set(pos_terms)
        code = self.code[rows]
        lo = np.flatnonzero(np.diff(code, prepend=-1))  # each term's first selected row
        out: Dict[str, tuple] = {}
        for a, e in zip(lo.tolist(), lo[1:].tolist() + [rows.size]):
            name = self.names[code[a]]
            idx = self._postings(rows[a:e])
            tp = None
            if name in pos_terms:
                if not self._has_pos[code[a]]:
                    raise ValueError(f"positions of {name!r} were not decoded")
                if isinstance(idx, slice):
                    tp = self._pos[self._pstart[idx.start]:self._pstart[idx.stop]]
                else:
                    occ = self._pstart[idx + 1] - self._pstart[idx]
                    tp = self._pos[np.repeat(self._pstart[idx], occ) + codec.ragged_arange(occ)]
            out[name] = (self._docs[idx], self._tfs[idx], self._dlq[idx], tp)
        return out


def _stream(rows: pa.Table, c: str, keep: Optional[np.ndarray] = None) -> np.ndarray:
    """The bytes of one binary column, joined in row order: a view of
    its contiguous Arrow buffer, or of only the ``keep`` rows."""
    a = rows.column(c).cast(pa.large_binary()).combine_chunks()
    if not len(a):
        return np.empty(0, np.uint8)
    bufs = a.buffers()
    off = np.frombuffer(bufs[1], np.int64, len(a) + 1, a.offset * 8)
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    if keep is None or keep.all():
        return data[off[0]:off[-1]]
    size = np.diff(off)[keep]
    return data[np.repeat(off[:-1][keep], size) + codec.ragged_arange(size)]


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
        parts.append(table.docs(keep))
    cand = np.unique(np.concatenate(parts))
    return np.concatenate([table.overlapping(t, cand) for t in names])


def _lead_rows(table: BlockTable, prog: M.Program, terms: List[str]) -> np.ndarray:
    """Skip-intersection row selection: candidates are the docs every
    required clause can hold (sparsest clause first); every clause then
    scores only blocks overlapping them."""
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
                [np.empty(0, np.int64)] + [table.docs(rows(t)) for t in set(c.terms)]))
            cand = docs if cand is None else cand[np.isin(cand, docs, assume_unique=True)]
        else:
            for t in sorted(set(c.terms), key=table.df):
                docs = table.docs(rows(t))
                cand = docs if cand is None else cand[np.isin(cand, docs, assume_unique=True)]
        if cand.size == 0:
            return np.empty(0, dtype=np.int64)
    return np.concatenate([table.overlapping(t, cand) for t in terms])


def _select_rows(table: BlockTable, prog: M.Program, terms: List[str], rows: np.ndarray,
                 idfs: Dict[str, float], avgdl: float, k: Optional[int]) -> np.ndarray:
    """Block rows to score for ``prog`` (``rows`` = all of its terms'
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
    ``k`` is None; "decoded" counts the rows pruning selected."""
    terms = sorted({t for c in prog.clauses for t in c.terms})
    rows = np.concatenate([np.empty(0, np.int64)] + [table.rows(t) for t in terms])
    docs, scores = _EMPTY
    selected = rows[:0]
    if rows.size and not prog.match_none:
        selected = np.unique(_select_rows(table, prog, terms, rows, idfs, avgdl, k))
        decoded = table.decode(selected, M.position_terms([prog]))
        docs, scores = M._run_program(prog, decoded, idfs, avgdl)
        if k is not None:
            docs, scores = bm25.topk_by_score(docs, scores, k)
        if prog.boost != 1.0:
            scores = scores * prog.boost
    return docs, scores, {"decoded": int(selected.size), "total": int(rows.size)}


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
