"""Boolean programs over posting blocks, and _msearch in at most ONE
Spark job.

``build_program`` turns a match (or/and/msm), match_phrase (any slop),
or bool-of-those AST into a flat ``Program``; ``_run_program`` is its
combine in numpy. ``wand.score_program`` runs a program over one
``wand.BlockTable`` (block-max pruning, one read of the selected
postings, this combine, top-k), and every such query runs through it:
on the Spark plan ``search``, ``compile`` and ``count`` score one
program per segment, and an msearch batch scores all of its programs
against one shared table, decoded once, per segment.

Reference: the `_msearch` endpoint executes a list of search requests in
a single round trip (``action/search/TransportMultiSearchAction.java``,
``rest/action/search/RestMultiSearchAction.java``). Spark shape:

    postings.filter(term IN union-of-all-query-terms)
      .groupBy(seg)
      .applyInPandas(make_msearch_scorer(programs))  # ONE python stage
      -> (qid, docId, score) per-segment top-k per query
      .Window(partitionBy qid).row_number <= k        # global reduce

so a batch of Q queries costs one Python stage instead of Q jobs, and a
block that several queries need is decoded once. Other query families
fall back to the per-query compiler and are unioned into the same
result shape.

A small batch of programs runs no Spark job at all: the engine's
driver-local tier (``SearchEngine._driver_topk``) runs ``score_table``,
the body of ``make_msearch_scorer``, once over its one resident table
of every segment's rows in the driver process.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.search import ast as A, bm25

MSEARCH_SCHEMA = "qid int, docId long, score double"


@dataclass
class _Clause:
    occur: str          # must | should | filter | must_not
    kind: str           # match | phrase
    terms: List[str] = field(default_factory=list)
    operator: str = "or"
    msm: int = 0
    weight: float = 1.0  # clause-level boost
    slop: int = 0       # phrase only: > 0 = sloppy phrase


@dataclass
class Program:
    qid: int
    clauses: List[_Clause] = field(default_factory=list)
    bool_msm: int = 0     # minimum_should_match across should clauses
    n_must: int = 0       # number of must+filter clauses (all required)
    boost: float = 1.0
    match_none: bool = False
    # a similarity's per-term score ``contrib(term, tf, dl_q)`` for match
    # clauses (None = BM25; phrase clauses always score BM25)
    contrib: Optional[Callable] = None


def build_program(qid: int, node: A.AnyNode, known_terms: set,
                  tok=tokenize) -> Optional[Program]:
    """AST -> flat scoring program, or None if the node family is
    unsupported (caller falls back to the general compiler).

    ``known_terms``: terms present in the index — used to reproduce the
    single-query compiler's missing-term semantics at build time
    (OR drops missing terms; AND/phrase with a missing term match
    nothing)."""
    prog = Program(qid=qid, boost=float(getattr(node, "boost", 1.0)))

    def leaf(n: A.AnyNode, occur: str) -> bool:
        if isinstance(n, A.Match):
            terms = tok(n.query)
            present = [t for t in terms if t in known_terms]
            if not terms:
                if n.zero_terms_query == "all":
                    return False  # match_all semantics -> fallback path
                # zero_terms "none": a required empty match kills the bool
                if occur in ("must", "filter"):
                    prog.match_none = True
                return True
            if n.operator == "and" and len(set(present)) < len(set(terms)):
                prog.match_none = prog.match_none or occur in ("must", "filter")
                return occur in ("must", "filter", "should")
            if not present:
                if occur in ("must", "filter"):
                    prog.match_none = True
                return True
            prog.clauses.append(_Clause(
                occur=occur, kind="match", terms=present,
                operator=n.operator, msm=n.minimum_should_match,
                weight=float(n.boost),
            ))
            return True
        if isinstance(n, A.MatchPhrase):
            terms = tok(n.query)
            if not terms:
                return True
            if any(t not in known_terms for t in terms):
                if occur in ("must", "filter"):
                    prog.match_none = True
                return True
            phrase = len(terms) > 1  # a one-term phrase scores as a match
            prog.clauses.append(_Clause(
                occur=occur, kind="phrase" if phrase else "match", terms=terms,
                weight=float(n.boost), slop=int(n.slop) if phrase else 0,
            ))
            return True
        return False

    if isinstance(node, (A.Match, A.MatchPhrase)):
        if not leaf(node, "must"):
            return None
        prog.n_must = 1 if prog.clauses or prog.match_none else 0
        # boost belongs to the leaf itself, not doubled at program level
        prog.boost = 1.0
        return prog
    if isinstance(node, A.Bool):
        for occur in ("must", "filter", "should", "must_not"):
            if not all(leaf(c, occur) for c in getattr(node, occur)):
                return None
        if not node.must and not node.filter and not node.should:
            return None  # pure-negative or empty bool: match_all base — fall back
        prog.n_must = sum(1 for c in prog.clauses if c.occur in ("must", "filter"))
        # should clauses dropped for matching nothing still count toward
        # minimum_should_match (they just never match)
        prog.bool_msm = node.effective_msm() if node.should else 0
        return prog
    return None


def candidate_terms(node: A.AnyNode, tok=tokenize) -> set:
    """All analyzed terms a node could reference (for one batched IDF
    lookup). Unknown node families contribute nothing — they take the
    fallback path anyway."""
    if isinstance(node, (A.Match, A.MatchPhrase)):
        return set(tok(node.query))
    if isinstance(node, A.Bool):
        out: set = set()
        for c in node.must + node.filter + node.should + node.must_not:
            out |= candidate_terms(c, tok)
        return out
    return set()


def required_terms(programs: Sequence[Program]) -> List[str]:
    return sorted({t for p in programs for c in p.clauses for t in c.terms})


def position_terms(programs: Sequence[Program]) -> set:
    """Terms whose positions the programs read (phrase clauses)."""
    return {t for p in programs for c in p.clauses if c.kind == "phrase" for t in c.terms}


def score_table(table, programs: Sequence[Program], idfs: Dict[str, float],
                avgdl: float, k: Optional[int]) -> Tuple[pd.DataFrame, dict]:
    """Every program scored against one ``wand.BlockTable`` (one
    segment's rows on the Spark plan, every segment's in the driver
    tier): (per-(query, table) top-k by (score desc, docId asc), or
    every match when ``k`` is None, as (qid, docId, score) in program
    order; {"decoded": rows the programs' pruning selected, "total": rows
    the programs reference}."""
    from opensearch_spark.search import wand

    out_qid: List[np.ndarray] = []
    out_doc: List[np.ndarray] = []
    out_score: List[np.ndarray] = []
    decoded = total = 0
    for prog in programs:
        docs, scores, stats = wand.score_program(table, prog, idfs, avgdl, k)
        out_qid.append(np.full(docs.size, prog.qid, dtype=np.int32))
        out_doc.append(docs.astype(np.int64))
        out_score.append(scores.astype(np.float64))
        decoded += stats["decoded"]
        total += stats["total"]
    return pd.DataFrame({
        "qid": np.concatenate([np.empty(0, np.int32)] + out_qid),
        "docId": np.concatenate([np.empty(0, np.int64)] + out_doc),
        "score": np.concatenate([np.empty(0, np.float64)] + out_score),
    }), {"decoded": decoded, "total": total}


def make_msearch_scorer(programs: List[Program], idfs: Dict[str, float],
                        avgdl: float, k: Optional[int]):
    """applyInPandas fn scoring every program against one segment's
    posting blocks (one shared ``wand.BlockTable``, ``score_table``);
    emits per-(query, segment) top-k, or every match when ``k`` is
    None."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from opensearch_spark.search import wand

        return score_table(wand.BlockTable(pdf, position_terms(programs)),
                           programs, idfs, avgdl, k)[0]

    return fn


def _clause_hits(c: _Clause, decoded, idfs, avgdl, contrib=None
                 ) -> Tuple[np.ndarray, np.ndarray]:
    if c.kind == "match":
        docs, scores = bm25.score_terms_in_segment(
            {t: decoded[t] for t in c.terms if t in decoded},
            {t: idfs[t] for t in c.terms},
            avgdl, c.operator, c.msm, n_required=len(set(c.terms)), contrib=contrib,
        )
    else:
        if c.slop:
            docs, pf, dl_q = bm25.sloppy_phrase_freq_in_segment(decoded, c.terms, c.slop)
        else:
            docs, pf, dl_q = bm25.phrase_freq_in_segment(decoded, c.terms)
        idf_sum = sum(idfs[t] for t in c.terms)
        scores = idf_sum * (bm25.K1 + 1.0) * bm25.tf_norm(
            pf.astype(np.float64), dl_q, avgdl
        )
    if c.occur == "filter":
        scores = np.zeros_like(scores)
    elif c.weight != 1.0:
        scores = scores * c.weight
    return docs, scores


def _run_program(prog: Program, decoded, idfs, avgdl
                 ) -> Tuple[np.ndarray, np.ndarray]:
    """Bool combine in numpy: docs sorted unique per clause; required
    clauses intersect, should clauses add + count toward msm, must_not
    subtracts. Mirrors SearchEngine._bool's aggregate semantics."""
    def hits(c: _Clause) -> Tuple[np.ndarray, np.ndarray]:
        return _clause_hits(c, decoded, idfs, avgdl, prog.contrib)

    req = [(c, *hits(c)) for c in prog.clauses if c.occur in ("must", "filter")]
    sho = [(c, *hits(c)) for c in prog.clauses if c.occur == "should"]
    neg = [hits(c)[0] for c in prog.clauses if c.occur == "must_not"]

    if prog.n_must and len(req) < prog.n_must:
        # a required clause produced no hits structure (missing terms
        # already handled at build time) — defensive
        return np.empty(0, np.int64), np.empty(0, np.float64)

    if req:
        base = req[0][1]
        for _, d, _s in req[1:]:
            base = base[np.isin(base, d, assume_unique=True)]
            if base.size == 0:
                return base, np.empty(0, np.float64)
        score = np.zeros(base.size, dtype=np.float64)
        for _, d, s in req:
            pos = np.searchsorted(d, base)
            score += s[pos]
        s_cnt = np.zeros(base.size, dtype=np.int64)
        for _, d, s in sho:
            hit = np.isin(base, d, assume_unique=True)
            if hit.any():
                pos = np.searchsorted(d, base[hit])
                score[hit] += s[pos]
                s_cnt[hit] += 1
        if prog.bool_msm > 0:
            keep = s_cnt >= prog.bool_msm
            base, score = base[keep], score[keep]
    else:
        if not sho:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        all_docs = np.concatenate([d for _, d, _ in sho])
        all_scores = np.concatenate([s for _, _, s in sho])
        base, inv = np.unique(all_docs, return_inverse=True)
        score = np.zeros(base.size, dtype=np.float64)
        np.add.at(score, inv, all_scores)
        cnt = np.zeros(base.size, dtype=np.int64)
        np.add.at(cnt, inv, 1)
        msm = max(prog.bool_msm, 1)
        keep = cnt >= msm
        base, score = base[keep], score[keep]

    for nd in neg:
        if nd.size and base.size:
            keep = ~np.isin(base, nd, assume_unique=True)
            base, score = base[keep], score[keep]
    return base, score
