"""Block-max pruning correctness: the pruned top-k scorer must return
exactly the same (docId, score) top-k as exhaustive scoring (full
decode plus ``msearch._run_program``), while decoding fewer blocks on
prunable inputs — i.e. pruning only selects which block rows decode."""

import numpy as np
import pandas as pd
import pytest

from opensearch_spark.analysis.smallfloat import int_to_byte4_np, decode_norms_np
from opensearch_spark.index import codec
from opensearch_spark.search import bm25, wand

AVGDL = 50.0
BLOCK = 8


def make_group_pdf(term_postings: dict, avgdl: float = AVGDL, block: int = BLOCK):
    """term -> (docs sorted, tfs, dls) packed into posting-block rows."""
    rows = []
    for term, (docs, tfs, dls) in term_postings.items():
        docs = np.asarray(docs, dtype=np.int64)
        tfs = np.asarray(tfs, dtype=np.int64)
        dls = np.asarray(dls, dtype=np.int64)
        nb = int_to_byte4_np(dls)
        dl_q = decode_norms_np(nb)
        for bno, s in enumerate(range(0, len(docs), block)):
            e = min(s + block, len(docs))
            # positions: synthetic ascending ints matching tf counts
            pos = np.concatenate([np.arange(t) for t in tfs[s:e]])
            rows.append({
                "seg": 0, "term": term, "block_no": bno, "n_docs": e - s,
                "first_doc": int(docs[s]), "last_doc": int(docs[e - 1]),
                "doc_bytes": codec.delta_encode_sorted(docs[s:e]),
                "tf_bytes": codec.varint_encode(tfs[s:e].astype(np.uint64)),
                "norm_bytes": nb[s:e].tobytes(),
                "pos_bytes": codec.encode_positions(pos, tfs[s:e]),
                "max_tf": int(tfs[s:e].max()),
                "min_dl_q": int(dl_q[s:e].min()),
            })
    return pd.DataFrame(rows)


def exhaustive(term_postings, idfs, operator="or", msm=0):
    decoded = {}
    for t, (docs, tfs, dls) in term_postings.items():
        if t not in idfs:
            continue
        nb = int_to_byte4_np(np.asarray(dls, dtype=np.int64))
        decoded[t] = (
            np.asarray(docs, dtype=np.int64),
            np.asarray(tfs, dtype=np.int64),
            decode_norms_np(nb).astype(np.float64),
            None,
        )
    return bm25.score_terms_in_segment(decoded, idfs, AVGDL, operator, msm)


def random_postings(rng, n_terms=4, n_docs=400):
    doc_pool = np.sort(rng.choice(10**6, size=n_docs, replace=False).astype(np.int64))
    dl_by_doc = rng.integers(5, 300, size=n_docs)
    out = {}
    for i in range(n_terms):
        sz = int(rng.integers(1, n_docs))
        sel = np.sort(rng.choice(n_docs, size=sz, replace=False))
        tfs = rng.integers(1, 8, size=sz)
        out[f"t{i}"] = (doc_pool[sel], tfs, dl_by_doc[sel])
    return out


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("operator", ["or", "and"])
def test_pruned_matches_exhaustive(seed, operator):
    rng = np.random.default_rng(seed)
    tp = random_postings(rng)
    idfs = {t: float(rng.uniform(0.2, 4.0)) for t in tp}
    pdf = make_group_pdf(tp)
    k = 10
    docs_p, scores_p, stats = wand.score_match_topk(pdf, idfs, AVGDL, k, operator)
    docs_e, scores_e = exhaustive(tp, idfs, operator)
    docs_e, scores_e = bm25.topk_by_score(docs_e, scores_e, k)
    assert docs_p.tolist() == docs_e.tolist(), (seed, operator)
    assert np.allclose(scores_p, scores_e, atol=1e-9)
    assert stats["decoded"] <= stats["total"]


def skewed_postings():
    """One rare high-idf term over 30 docs and two common low-idf terms
    in all 2000, with their idfs: BM25's MaxScore prunes this."""
    rng = np.random.default_rng(7)
    n = 2000
    docs = np.sort(rng.choice(10**7, size=n, replace=False).astype(np.int64))
    dls = rng.integers(20, 200, size=n)
    sel = np.sort(rng.choice(n, 30, replace=False))
    tp = {
        "rare": (docs[sel], rng.integers(3, 6, size=30), dls[sel]),
        "common1": (docs, np.ones(n, dtype=np.int64), dls),
        "common2": (docs, np.ones(n, dtype=np.int64), dls),
    }
    return tp, {"rare": 8.0, "common1": 0.05, "common2": 0.05}


def test_or_pruning_skips_blocks():
    """Skewed idfs: one dominant rare term + huge low-idf terms -> the
    low-impact terms' blocks must not all be decoded."""
    tp, idfs = skewed_postings()
    pdf = make_group_pdf(tp, block=128)
    docs_p, scores_p, stats = wand.score_match_topk(pdf, idfs, AVGDL, 10, "or")
    docs_e, scores_e = exhaustive(tp, idfs)
    docs_e, scores_e = bm25.topk_by_score(docs_e, scores_e, 10)
    assert docs_p.tolist() == docs_e.tolist()
    assert np.allclose(scores_p, scores_e, atol=1e-9)
    assert stats["decoded"] < stats["total"], stats


def test_similarity_program_skips_maxscore():
    """A program under another similarity (``contrib``) skips MaxScore,
    whose block bounds are BM25's: where MaxScore prunes BM25, a
    similarity that favours long docs with the common terms still gets
    the exhaustive top-k."""
    from opensearch_spark.search import msearch as M

    tp, idfs = skewed_postings()
    pdf = make_group_pdf(tp, block=128)
    prog = M.Program(qid=0, clauses=[M._Clause(occur="must", kind="match", terms=list(idfs))],
                     n_must=1, contrib=lambda t, tf, dl_q: dl_q * (t != "rare"))
    docs_p, scores_p, _ = wand.score_program(wand.BlockTable(pdf), prog, idfs, AVGDL, 10)
    docs_e, scores_e, _ = wand.score_program(wand.BlockTable(pdf), prog, idfs, AVGDL, None)
    docs_e, scores_e = bm25.topk_by_score(docs_e, scores_e, 10)
    assert docs_p.tolist() == docs_e.tolist()
    assert np.allclose(scores_p, scores_e, atol=1e-9)


def test_and_pruning_skips_blocks():
    """Sparse ∧ dense: dense term decodes only candidate-overlapping blocks."""
    rng = np.random.default_rng(3)
    n = 5000
    docs = np.sort(rng.choice(10**7, size=n, replace=False).astype(np.int64))
    dls = rng.integers(20, 200, size=n)
    sel = np.sort(rng.choice(n, 5, replace=False))
    tp = {
        "sparse": (docs[sel], np.ones(5, dtype=np.int64), dls[sel]),
        "dense": (docs, np.ones(n, dtype=np.int64), dls),
    }
    idfs = {"sparse": 6.0, "dense": 0.1}
    pdf = make_group_pdf(tp, block=128)
    docs_p, scores_p, stats = wand.score_match_topk(pdf, idfs, AVGDL, 10, "and")
    docs_e, scores_e = exhaustive(tp, idfs, "and")
    docs_e, scores_e = bm25.topk_by_score(docs_e, scores_e, 10)
    assert docs_p.tolist() == docs_e.tolist()
    assert np.allclose(scores_p, scores_e, atol=1e-9)
    assert stats["decoded"] < stats["total"], stats


def test_phrase_pruned_path():
    """Pruned phrase scorer agrees with the exhaustive phrase scorer."""
    rng = np.random.default_rng(11)
    n = 300
    docs = np.sort(rng.choice(10**6, size=n, replace=False).astype(np.int64))
    dls = np.full(n, 40)
    tfs = np.full(n, 2, dtype=np.int64)
    # positions engineered inside make_group_pdf are arange(tf) = [0,1] for
    # every doc -> phrase "a b" matches where a has pos p and b pos p+1:
    # a positions [0,1], b positions [0,1] -> b at 1 follows a at 0: match.
    tp = {"a": (docs, tfs, dls), "b": (docs[: n // 2], tfs[: n // 2], dls[: n // 2])}
    idfs = {"a": 1.0, "b": 2.0}
    pdf = make_group_pdf(tp, block=32)
    docs_p, scores_p, stats = wand.score_phrase_topk(pdf, ["a", "b"], idfs, AVGDL, 10)
    decoded = bm25.decode_term_group(pdf, want_positions=True)
    d_e, pf, dl_q = bm25.phrase_freq_in_segment(decoded, ["a", "b"])
    s_e = (idfs["a"] + idfs["b"]) * (bm25.K1 + 1.0) * bm25.tf_norm(
        pf.astype(np.float64), dl_q, AVGDL
    )
    d_e, s_e = bm25.topk_by_score(d_e, s_e, 10)
    assert docs_p.tolist() == d_e.tolist()
    assert np.allclose(scores_p, s_e, atol=1e-9)


# ---- conjunction-led program pruning (score_program_topk) ----------------

def _rand_postings(rng, n_terms=6, n_docs=400):
    """Random per-term postings (make_group_pdf gives each doc positions
    0..tf-1, so phrases and sloppy phrases match)."""
    out = {}
    for i in range(n_terms):
        df = rng.integers(20, n_docs)
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, size=df).astype(np.int64)
        dls = rng.integers(10, 120, size=df).astype(np.int64)
        out[f"t{i}"] = (docs, tfs, dls)
    return out


def _exhaustive_program(pdf, clauses, bool_msm, idfs, k, boost=1.0):
    from opensearch_spark.search import msearch as M

    prog = M.Program(qid=0, bool_msm=bool_msm, boost=boost)
    for c in clauses:
        prog.clauses.append(M._Clause(**c))
    prog.n_must = sum(1 for c in prog.clauses if c.occur in ("must", "filter"))
    decoded = bm25.decode_term_group(pdf, want_positions=True)
    docs, scores = M._run_program(prog, decoded, idfs, AVGDL)
    docs, scores = bm25.topk_by_score(docs, scores, k)
    if boost != 1.0:
        scores = scores * boost
    return docs, scores


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_program_pruned_rank_identity(seed):
    rng = np.random.default_rng(seed)
    postings = _rand_postings(rng)
    pdf = make_group_pdf(postings)
    idfs = {t: bm25.idf(len(p[0]), 500) for t, p in postings.items()}
    cases = [
        # must + shoulds
        dict(clauses=[
            {"occur": "must", "kind": "match", "terms": ["t0", "t1"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "match", "terms": ["t2"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "match", "terms": ["t3"],
             "operator": "or", "msm": 0, "weight": 2.0},
        ], bool_msm=0),
        # must(and) + filter + must_not
        dict(clauses=[
            {"occur": "must", "kind": "match", "terms": ["t0", "t2"],
             "operator": "and", "msm": 0, "weight": 1.0},
            {"occur": "filter", "kind": "match", "terms": ["t4"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "must_not", "kind": "match", "terms": ["t5"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=0),
        # two musts + msm over shoulds
        dict(clauses=[
            {"occur": "must", "kind": "match", "terms": ["t1"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "must", "kind": "match", "terms": ["t2", "t3"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "match", "terms": ["t4"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "match", "terms": ["t5"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=2),
        # phrase must + should
        dict(clauses=[
            {"occur": "must", "kind": "phrase", "terms": ["t0", "t1"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "match", "terms": ["t2"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=0),
        # match must + sloppy-phrase should + must_not
        dict(clauses=[
            {"occur": "must", "kind": "match", "terms": ["t1"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "phrase", "terms": ["t2", "t3"],
             "operator": "or", "msm": 0, "weight": 1.5, "slop": 2},
            {"occur": "must_not", "kind": "match", "terms": ["t5"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=0),
        # sloppy phrase as the lead clause
        dict(clauses=[
            {"occur": "must", "kind": "phrase", "terms": ["t0", "t4", "t2"],
             "operator": "or", "msm": 0, "weight": 1.0, "slop": 3},
            {"occur": "should", "kind": "match", "terms": ["t1", "t3"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=0),
        # pure should (no required clause): every row decodes
        dict(clauses=[
            {"occur": "should", "kind": "match", "terms": ["t0"],
             "operator": "or", "msm": 0, "weight": 1.0},
            {"occur": "should", "kind": "phrase", "terms": ["t1", "t2"],
             "operator": "or", "msm": 0, "weight": 1.0},
        ], bool_msm=1),
        # lone OR clause (MaxScore) with a clause boost
        dict(clauses=[
            {"occur": "must", "kind": "match", "terms": ["t0", "t3", "t5"],
             "operator": "or", "msm": 0, "weight": 2.0},
        ], bool_msm=0),
    ]
    for case in cases:
        gd, gs, stats = wand.score_program_topk(
            pdf, case["clauses"], case["bool_msm"], idfs, AVGDL, k=10
        )
        wd, ws = _exhaustive_program(pdf, case["clauses"], case["bool_msm"],
                                     idfs, k=10)
        assert gd.tolist() == wd.tolist(), case
        np.testing.assert_allclose(gs, ws, rtol=0, atol=1e-12)
        assert stats["decoded"] <= stats["total"]


def test_program_multi_generation_rank_identity():
    """Two generations (an incremental batch appended blocks whose doc
    ranges overlap the first build's): the block table merge-sorts each
    term's docs, and pruned top-k still equals the exhaustive program."""
    rng = np.random.default_rng(5)
    postings = _rand_postings(rng)
    gens = []
    for g in range(2):
        part = {}
        for t, (docs, tfs, dls) in postings.items():
            keep = (docs % 2) == g
            part[t] = (docs[keep], tfs[keep], dls[keep])
        gens.append(make_group_pdf(part))
    pdf = pd.concat(gens, ignore_index=True)
    idfs = {t: bm25.idf(len(p[0]), 500) for t, p in postings.items()}
    decoded = bm25.decode_term_group(pdf, want_positions=True)
    for t, (docs, tfs, dls) in postings.items():
        assert decoded[t][0].tolist() == docs.tolist()
        assert decoded[t][1].tolist() == tfs.tolist()
    for clauses, msm in [
        ([{"occur": "must", "kind": "match", "terms": ["t0", "t1", "t2"],
           "operator": "or", "msm": 0, "weight": 1.0}], 0),
        ([{"occur": "must", "kind": "match", "terms": ["t0", "t1"],
           "operator": "and", "msm": 0, "weight": 1.0},
          {"occur": "should", "kind": "phrase", "terms": ["t2", "t3"],
           "operator": "or", "msm": 0, "weight": 1.0}], 0),
    ]:
        gd, gs, _stats = wand.score_program_topk(pdf, clauses, msm, idfs, AVGDL, k=10)
        wd, ws = _exhaustive_program(pdf, clauses, msm, idfs, k=10)
        assert gd.tolist() == wd.tolist()
        np.testing.assert_allclose(gs, ws, rtol=0, atol=1e-12)


def test_one_table_equals_merged_segment_tables():
    """The driver tier scores ONE table over every segment's rows. Over
    3 segments with interleaved doc ranges (seg = doc % 3), each holding
    two generations, it must give the same top-k as per-segment tables
    merged by (score desc, docId asc) — for a lone OR clause (MaxScore),
    AND, an exact and a sloppy phrase, and a bool with must_not and
    minimum_should_match. Docs 2j and 2j+1 (different segments) carry
    identical postings, and k cuts such a tied pair, so the k-th place
    is a score tie across segments."""
    from opensearch_spark.search import msearch as M

    rng = np.random.default_rng(9)
    n_base, n_seg = 150, 3
    dl_base = rng.integers(10, 120, size=n_base)
    postings = {}
    for i in range(6):
        base = np.sort(rng.choice(n_base, size=int(rng.integers(40, n_base)), replace=False))
        tfs = rng.integers(1, 5, size=base.size)
        docs = np.stack([2 * base, 2 * base + 1], axis=1).ravel().astype(np.int64)
        postings[f"t{i}"] = (docs, np.repeat(tfs, 2).astype(np.int64),
                             np.repeat(dl_base[base], 2).astype(np.int64))
    parts = {}
    for seg in range(n_seg):
        for gen in range(2):
            part = {}
            for t, (docs, tfs, dls) in postings.items():
                keep = (docs % n_seg == seg) & ((docs // n_seg) % 2 == gen)
                part[t] = (docs[keep], tfs[keep], dls[keep])
            parts[seg, gen] = make_group_pdf(part).assign(seg=seg)
    idfs = {t: bm25.idf(len(p[0]), 2 * n_base) for t, p in postings.items()}

    def clause(occur, kind, terms, **kw):
        return M._Clause(occur=occur, kind=kind, terms=terms, **kw)

    programs = {
        "or": [clause("must", "match", ["t0", "t1", "t2"])],
        "and": [clause("must", "match", ["t0", "t1"], operator="and")],
        "phrase": [clause("must", "phrase", ["t0", "t1"])],
        "sloppy": [clause("must", "phrase", ["t1", "t3", "t2"], slop=2)],
        "bool": [clause("must", "match", ["t0", "t3"]),
                 clause("should", "match", ["t1"]),
                 clause("should", "phrase", ["t2", "t4"], weight=1.5),
                 clause("must_not", "match", ["t5"])],
    }
    one_table = wand.BlockTable(pd.concat(parts.values(), ignore_index=True))
    seg_tables = [wand.BlockTable(pd.concat([parts[seg, 0], parts[seg, 1]], ignore_index=True))
                  for seg in range(n_seg)]
    for name, clauses in programs.items():
        prog = M.Program(qid=0, clauses=clauses, bool_msm=1 if name == "bool" else 0,
                         n_must=sum(c.occur == "must" for c in clauses))
        whole = M.score_table(one_table, [prog], idfs, AVGDL, None)[0]
        whole = whole.sort_values(["score", "docId"], ascending=[False, True])
        d, sc = whole["docId"].to_numpy(), whole["score"].to_numpy()
        # the first tied pair from rank 5 on sets k: the k-th and the
        # (k+1)-th hit tie, in different segments
        k = next(r for r in range(5, d.size) if sc[r - 1] == sc[r])
        assert d[k - 1] % n_seg != d[k] % n_seg, name

        one = M.score_table(one_table, [prog], idfs, AVGDL, k)[0]
        per_seg = pd.concat([M.score_table(t, [prog], idfs, AVGDL, k)[0] for t in seg_tables],
                            ignore_index=True)
        merged = per_seg.sort_values(["score", "docId"], ascending=[False, True]).head(k)
        assert one["docId"].tolist() == merged["docId"].tolist() == d[:k].tolist(), name
        np.testing.assert_allclose(one["score"], merged["score"], rtol=0, atol=1e-12)


def test_program_pruning_decodes_fewer_blocks():
    """A sparse must + dense shoulds: should blocks outside the must
    candidates are never decoded."""
    rng = np.random.default_rng(7)
    n_docs = 2000
    sparse_docs = np.sort(rng.choice(n_docs, size=12, replace=False)).astype(np.int64)
    dense_docs = np.arange(n_docs, dtype=np.int64)
    postings = {
        "sparse": (sparse_docs, np.ones(12, dtype=np.int64),
                   np.full(12, 40, dtype=np.int64)),
        "dense": (dense_docs, np.ones(n_docs, dtype=np.int64),
                  np.full(n_docs, 40, dtype=np.int64)),
    }
    pdf = make_group_pdf(postings, block=32)
    idfs = {t: bm25.idf(len(p[0]), n_docs + 1) for t, p in postings.items()}
    clauses = [
        {"occur": "must", "kind": "match", "terms": ["sparse"],
         "operator": "or", "msm": 0, "weight": 1.0},
        {"occur": "should", "kind": "match", "terms": ["dense"],
         "operator": "or", "msm": 0, "weight": 1.0},
    ]
    gd, gs, stats = wand.score_program_topk(pdf, clauses, 0, idfs, AVGDL, k=5)
    wd, ws = _exhaustive_program(pdf, clauses, 0, idfs, k=5)
    assert gd.tolist() == wd.tolist()
    np.testing.assert_allclose(gs, ws, atol=1e-12)
    # dense term has ~63 blocks; only the ~12 candidate-overlapping ones decode
    assert stats["decoded"] < stats["total"] / 2, stats


# --- sloppy phrase: boundary form vs the Lucene greedy walk ----------------

def _decoded_single_doc(poslists):
    """Build a one-doc `decoded` dict (docs, tfs, dl_q, pos) for terms
    t0..t{k-1} whose UNADJUSTED positions are poslists[i] (ascending)."""
    decoded = {}
    dl = max(int(p[-1]) for p in poslists) + 1
    for i, pl in enumerate(poslists):
        pl = np.asarray(sorted(pl), dtype=np.int64)
        decoded[f"t{i}"] = (
            np.array([0], dtype=np.int64),
            np.array([pl.size], dtype=np.int64),
            np.array([float(dl)], dtype=np.float64),
            pl,
        )
    return decoded


def test_sloppy_2term_boundary_equals_walk():
    """The vectorized 2-term boundary form in sloppy_phrase_freq_in_segment
    must equal _lucene_sloppy_walk on the adjusted position lists — the
    property the bm25 docstring promises, over 500 random docs including
    adjacent/tied adjusted positions."""
    rng = np.random.default_rng(42)
    for slop in (1, 2, 5):
        for _ in range(170):
            n1 = int(rng.integers(1, 7))
            n2 = int(rng.integers(1, 7))
            p1 = np.unique(rng.integers(0, 25, size=n1)).astype(np.int64)
            p2 = np.unique(rng.integers(0, 25, size=n2)).astype(np.int64)
            # terms occupy distinct token slots within one doc
            overlap = np.isin(p2, p1)
            p2 = p2[~overlap] if (~overlap).any() else (p1[:1] + 1)
            decoded = _decoded_single_doc([p1, p2])
            docs, freq, _dlq = bm25.sloppy_phrase_freq_in_segment(
                decoded, ["t0", "t1"], slop)
            adj = [p1.astype(np.int64), np.sort(p2.astype(np.int64) - 1)]
            want = bm25._lucene_sloppy_walk(adj, slop)
            got = float(freq[0]) if docs.size else 0.0
            assert got == pytest.approx(want, abs=0.0), (
                p1.tolist(), p2.tolist(), slop, got, want)


def test_sloppy_kterm_walk_hand_examples():
    """Hand-checked Lucene SloppyPhraseMatcher outcomes for 3-term
    phrases (distinct terms, adjusted positions)."""
    # exact phrase "a b c" at 0,1,2 -> one match, matchLength 0
    assert bm25._lucene_sloppy_walk(
        [np.array([0]), np.array([0]), np.array([0])], 2) == 1.0
    # "a _ b _ c" -> adjusted 0,1,2: matchLength 2 -> 1/3
    assert bm25._lucene_sloppy_walk(
        [np.array([0]), np.array([1]), np.array([2])], 2) == pytest.approx(1 / 3)
    # same but slop 1 -> no match
    assert bm25._lucene_sloppy_walk(
        [np.array([0]), np.array([1]), np.array([2])], 1) == 0.0
    # two disjoint exact occurrences -> freq 2
    assert bm25._lucene_sloppy_walk(
        [np.array([0, 10]), np.array([0, 10]), np.array([0, 10])], 0) == 2.0


def test_sloppy_kterm_segment_matches_walk():
    """3-term segment path (per-doc walk) agrees with calling the walk
    directly on the adjusted lists."""
    rng = np.random.default_rng(7)
    for _ in range(60):
        pls, used = [], set()
        for i in range(3):
            n = int(rng.integers(1, 5))
            pl = []
            for _ in range(n):
                p = int(rng.integers(0, 20))
                while p in used:
                    p += 1
                used.add(p)
                pl.append(p)
            pls.append(np.array(sorted(pl), dtype=np.int64))
        decoded = _decoded_single_doc(pls)
        docs, freq, _dlq = bm25.sloppy_phrase_freq_in_segment(
            decoded, ["t0", "t1", "t2"], 4)
        adj = [np.sort(pl - i) for i, pl in enumerate(pls)]
        want = bm25._lucene_sloppy_walk(adj, 4)
        got = float(freq[0]) if docs.size else 0.0
        assert got == pytest.approx(want, abs=0.0)

# --- repeated-term sloppy phrases: Lucene repeat-group bookkeeping ----------

class _RefPP:
    """Literal PhrasePositions transcription for the differential
    reference below (object-per-cursor, as Lucene holds them)."""

    __slots__ = ("pl", "idx", "position", "offset", "rpt_group", "rpt_ind")

    def __init__(self, pl, offset):
        self.pl = list(int(p) for p in pl)
        self.idx = 0
        self.position = self.pl[0]
        self.offset = offset
        self.rpt_group = -1
        self.rpt_ind = -1

    def next_position(self):
        self.idx += 1
        if self.idx >= len(self.pl):
            return False
        self.position = self.pl[self.idx]
        return True


def _ref_sloppy_rpt(poslists, slop, rpt_groups):
    """Independent, un-vectorized transcription of Lucene
    SloppyPhraseMatcher (initComplex + nextMatch + advanceRpts/collide/
    lesser) with Fraction-exact accumulation — the differential oracle
    for bm25._lucene_sloppy_walk_rpt. The queue is an explicit
    priority set ordered by (position, offset); Lucene's bit-marked
    partial re-queue restores exactly that ordering before any pop."""
    from fractions import Fraction

    pps = [_RefPP(pl, i) for i, pl in enumerate(poslists)]
    groups = []
    for g, slots in enumerate(rpt_groups):
        rg = [pps[s] for s in slots]
        for j, pp in enumerate(rg):
            pp.rpt_group = g
            pp.rpt_ind = j
        groups.append(rg)

    state = {"end": 0, "positioned": True, "match_length": 0}

    def advance_pp(pp):
        if not pp.next_position():
            return False
        if pp.position > state["end"]:
            state["end"] = pp.position
        return True

    def tp_pos(pp):
        return pp.position + pp.offset

    def collide(pp):
        rg = groups[pp.rpt_group]
        tp = tp_pos(pp)
        for other in rg:
            if other is not pp and tp_pos(other) == tp:
                return other
        return None

    def lesser(a, b):
        if (a.position, a.offset) < (b.position, b.offset):
            return a
        return b

    def advance_rpts(pp):
        if pp.rpt_group < 0:
            return True
        while True:
            other = collide(pp)
            if other is None:
                return True
            pp = lesser(pp, other)
            if not advance_pp(pp):
                return False

    # initComplex: placeFirstPositions (ctor) + advanceRepeatGroups
    for rg in groups:
        for j in range(1, len(rg)):
            for _ in range(j):
                if not rg[j].next_position():
                    return 0.0
    state["end"] = max(pp.position for pp in pps)
    pq = set(pps)

    def pop_min():
        m = min(pq, key=lambda p: (p.position, p.offset))
        pq.discard(m)
        return m

    def next_match():
        if not state["positioned"] or len(pq) < 2:
            return False
        pp = pop_min()
        state["match_length"] = state["end"] - pp.position
        nxt = min(p.position for p in pq)
        while advance_pp(pp):
            if groups and not advance_rpts(pp):
                break
            if pp.position > nxt:
                pq.add(pp)
                if state["match_length"] <= slop:
                    return True
                pp = pop_min()
                nxt = min(p.position for p in pq)
                state["match_length"] = state["end"] - pp.position
            else:
                ml2 = state["end"] - pp.position
                if ml2 < state["match_length"]:
                    state["match_length"] = ml2
        state["positioned"] = False
        return state["match_length"] <= slop

    freq = Fraction(0)
    while next_match():
        freq += Fraction(1, 1 + state["match_length"])
    return float(freq)


def test_sloppy_rpt_hand_examples():
    """Hand-traced SloppyPhraseMatcher outcomes for repeated-term
    phrases (adjusted position lists)."""
    W = bm25._lucene_sloppy_walk_rpt
    # doc "a b a", phrase "a b a" slop 0 -> exactly one exact match
    assert W([np.array([0, 2]), np.array([0]), np.array([-2, 0])],
             0, [[0, 2]]) == 1.0
    # doc "a b a b a", phrase "a b a" slop 0 -> two overlapping matches
    assert W([np.array([0, 2, 4]), np.array([0, 2]), np.array([-2, 0, 2])],
             0, [[0, 2]]) == 2.0
    # doc "a a", phrase "a a" slop 0 -> one match
    assert W([np.array([0, 1]), np.array([-1, 0])], 0, [[0, 1]]) == 1.0
    # doc "a a a", phrase "a a" slop 0 -> pairs (0,1),(1,2)
    assert W([np.array([0, 1, 2]), np.array([-1, 0, 1])], 0, [[0, 1]]) == 2.0
    # doc has ONE "a": phrase "a a" can never match (init exhaustion)
    assert W([np.array([0]), np.array([-1])], 3, [[0, 1]]) == 0.0


def test_sloppy_rpt_two_slot_closed_form():
    """For phrase "t t"~slop the repeat walk provably reduces to
    consecutive-occurrence pairs: sum over i of 1/(q[i+1]-q[i]) where
    q[i+1]-q[i]-1 <= slop (init puts slot1 on occurrence 1; every
    advance collides and pushes slot1 one occurrence ahead)."""
    rng = np.random.default_rng(11)
    for slop in (0, 1, 2, 4):
        for _ in range(120):
            m = int(rng.integers(1, 9))
            q = np.unique(rng.integers(0, 30, size=m)).astype(np.int64)
            pls = [q, q - 1]
            want = sum(
                1.0 / (q[i + 1] - q[i])
                for i in range(len(q) - 1)
                if q[i + 1] - q[i] - 1 <= slop
            )
            got = bm25._lucene_sloppy_walk_rpt(pls, slop, [[0, 1]])
            assert got == pytest.approx(want, abs=1e-12), (q.tolist(), slop)


def test_sloppy_rpt_walk_matches_reference():
    """bm25._lucene_sloppy_walk_rpt equals the literal Lucene
    transcription on random docs for repeat shapes a-a, a-b-a, a-a-b,
    a-b-a-c-a and a-b-a-b across slops."""
    rng = np.random.default_rng(23)
    shapes = [
        ("aa", ["a", "a"]),
        ("aba", ["a", "b", "a"]),
        ("aab", ["a", "a", "b"]),
        ("abaca", ["a", "b", "a", "c", "a"]),
        ("abab", ["a", "b", "a", "b"]),
    ]
    for _name, terms in shapes:
        uniq = sorted(set(terms))
        for slop in (0, 1, 2, 5):
            for _ in range(80):
                # distinct token positions per term (one token per slot)
                used = set()
                tokpos = {}
                for t in uniq:
                    n = int(rng.integers(1, 6))
                    pl = []
                    for _ in range(n):
                        p = int(rng.integers(0, 24))
                        while p in used:
                            p = (p + 1) % 1000
                        used.add(p)
                        pl.append(p)
                    tokpos[t] = np.array(sorted(pl), dtype=np.int64)
                pls = [tokpos[t] - off for off, t in enumerate(terms)]
                groups = bm25._repeat_groups(terms)
                got = bm25._lucene_sloppy_walk_rpt(pls, slop, groups)
                want = _ref_sloppy_rpt(pls, slop, groups)
                assert got == pytest.approx(want, abs=1e-12), (
                    terms, slop, {t: p.tolist() for t, p in tokpos.items()})


def test_sloppy_rpt_segment_dispatch():
    """sloppy_phrase_freq_in_segment routes repeated-term phrases
    through the repeat walk (multi-doc segment, dl bookkeeping)."""
    rng = np.random.default_rng(5)
    n_docs = 40
    docs_a, tfs_a, pos_a = [], [], []
    docs_b, tfs_b, pos_b = [], [], []
    per_doc = {}
    for d in range(n_docs):
        used = set()

        def draw(n):
            out = []
            for _ in range(n):
                p = int(rng.integers(0, 30))
                while p in used:
                    p = (p + 1) % 1000
                used.add(p)
                out.append(p)
            return np.array(sorted(out), dtype=np.int64)

        pa = draw(int(rng.integers(1, 5)))
        pb = draw(int(rng.integers(1, 4)))
        per_doc[d] = (pa, pb)
        docs_a.append(d); tfs_a.append(pa.size); pos_a.append(pa)
        docs_b.append(d); tfs_b.append(pb.size); pos_b.append(pb)
    dlq = np.full(n_docs, 30.0)
    decoded = {
        "a": (np.arange(n_docs, dtype=np.int64),
              np.array(tfs_a, dtype=np.int64), dlq, np.concatenate(pos_a)),
        "b": (np.arange(n_docs, dtype=np.int64),
              np.array(tfs_b, dtype=np.int64), dlq, np.concatenate(pos_b)),
    }
    terms = ["a", "b", "a"]
    slop = 2
    docs, freq, _dlq = bm25.sloppy_phrase_freq_in_segment(decoded, terms, slop)
    got = dict(zip(docs.tolist(), freq.tolist()))
    groups = bm25._repeat_groups(terms)
    for d, (pa, pb) in per_doc.items():
        pls = [pa - 0, pb - 1, pa - 2]
        want = _ref_sloppy_rpt(pls, slop, groups)
        assert got.get(d, 0.0) == pytest.approx(want, abs=1e-12), d
