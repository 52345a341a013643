"""In-process replay of the scoring kernel for one query or one batch.

pyarrow reads the query's posting blocks straight from the index files,
then each segment's rows go through the same public entry the Spark plan
calls (``wand.score_match_topk`` / ``score_phrase_topk`` /
``score_program_topk``, ``msearch.make_msearch_scorer``). The time and
block counts measure the kernel without Spark or the Python-worker
boundary; the merged top-k must equal the engine's.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.search import ast as A, bm25, dsl, msearch, wand


class Replay:
    """Kernel replays against one state of an index directory."""

    def __init__(self, index_dir: str):
        with open(os.path.join(index_dir, "manifest.json")) as f:
            manifest = json.load(f)
        self.avgdl = float(manifest["avgdl"])
        self.n = int(manifest["field_doc_count"])
        self.postings = ds.dataset(os.path.join(index_dir, "postings"), format="parquet")
        self.termstats = ds.dataset(os.path.join(index_dir, "termstats"), format="parquet")
        self.read_s = 0.0
        self.score_s = 0.0
        self.blocks_decoded = 0
        self.blocks_total = 0

    def _read(self, terms) -> tuple:
        """(per-segment posting rows, idf per term present in the index)."""
        t0 = time.perf_counter()
        terms = sorted(set(terms))
        ts = self.termstats.to_table(filter=pc.field("term").isin(terms)).to_pandas()
        dfs = ts.groupby("term")["df"].sum()
        idfs = {t: bm25.idf(int(dfs[t]), self.n) for t in terms if t in dfs.index}
        rows = self.postings.to_table(filter=pc.field("term").isin(terms)).to_pandas()
        rows = rows.sort_values(["seg", "term", "block_no"], kind="stable")
        segs = [g.reset_index(drop=True) for _, g in rows.groupby("seg", sort=True)]
        self.read_s += time.perf_counter() - t0
        self.blocks_total += len(rows)
        return segs, idfs

    def query(self, q: dict, k: int) -> list:
        """Top-k ``[(docId, score)]`` of one query, as ``search`` ranks it."""
        node = dsl.parse(q)
        terms = sorted(msearch.candidate_terms(node, tokenize))
        segs, idfs = self._read(terms)
        t0 = time.perf_counter()
        docs, scores = [], []
        for pdf in segs:
            d, s, decoded = self._score_segment(node, pdf, idfs, k)
            docs.append(d)
            scores.append(s)
            self.blocks_decoded += decoded
        self.score_s += time.perf_counter() - t0
        return _merge(docs, scores, k)

    def _score_segment(self, node, pdf, idfs, k):
        if isinstance(node, A.Match):
            terms = tokenize(node.query)
            present = {t: idfs[t] for t in terms if t in idfs}
            if not present or (node.operator == "and" and len(present) < len(set(terms))):
                return _EMPTY + (0,)
            d, s, st = wand.score_match_topk(pdf, present, self.avgdl, k, node.operator,
                                             node.minimum_should_match, float(node.boost))
            return d, s, st["decoded"]
        if isinstance(node, A.MatchPhrase) and node.slop == 0:
            terms = tokenize(node.query)
            if len(terms) < 2 or any(t not in idfs for t in terms):
                raise ValueError("replay covers multi-term phrases with known terms")
            d, s, st = wand.score_phrase_topk(pdf, terms, idfs, self.avgdl, k, float(node.boost))
            return d, s, st["decoded"]
        prog = msearch.build_program(0, node, set(idfs), tokenize)
        if prog is None or prog.match_none:
            raise ValueError(f"replay does not cover {type(node).__name__}")
        clauses = [{"occur": c.occur, "kind": c.kind, "terms": c.terms,
                    "operator": c.operator, "msm": c.msm, "weight": c.weight}
                   for c in prog.clauses]
        out = wand.score_program_topk(pdf, clauses, prog.bool_msm, idfs, self.avgdl, k,
                                      boost=prog.boost)
        if out is None:
            raise ValueError("replay covers bools with a required clause")
        d, s, st = out
        return d, s, st.get("decoded", len(pdf))

    def batch(self, queries: list, k: int) -> dict:
        """Per-qid top-k of one ``msearch`` batch."""
        nodes = [dsl.parse(q) for q in queries]
        cand = set()
        for n in nodes:
            cand |= msearch.candidate_terms(n, tokenize)
        segs, idfs = self._read(cand)
        progs = [msearch.build_program(i, n, set(idfs), tokenize) for i, n in enumerate(nodes)]
        if any(p is None for p in progs):
            raise ValueError("replay covers batches the msearch program scores")
        t0 = time.perf_counter()
        fn = msearch.make_msearch_scorer(progs, idfs, self.avgdl, k)
        parts = [fn(pdf) for pdf in segs]
        self.score_s += time.perf_counter() - t0
        # the batch scorer decodes every block it is given
        self.blocks_decoded += sum(len(p) for p in segs)
        allp = pd.concat(parts) if parts else pd.DataFrame(columns=["qid", "docId", "score"])
        return {int(qid): _merge([g["docId"].to_numpy()], [g["score"].to_numpy()], k)
                for qid, g in allp.groupby("qid")}


_EMPTY = (np.empty(0, np.int64), np.empty(0, np.float64))


def _merge(docs: list, scores: list, k: int) -> list:
    if not docs:
        return []
    d = np.concatenate(docs).astype(np.int64)
    s = np.concatenate(scores).astype(np.float64)
    order = np.lexsort((d, -s))[:k]
    return [(int(d[i]), float(s[i])) for i in order]
