"""Span/interval position algebra: numpy kernels vs brute force, plus
engine-level span_near / intervals over a real index.

Brute-force oracle: enumerate all clause-occurrence chains per doc with
itertools (tiny synthetic position sets), so every kernel result is
checked against exhaustive search.
"""

import itertools
import random

import numpy as np
import pytest

from opensearch_spark.search import spans as S


def mk(doc, st, en=None):
    st = np.asarray(st, dtype=np.int64)
    doc = np.asarray(doc, dtype=np.int64)
    en = st + 1 if en is None else np.asarray(en, dtype=np.int64)
    order = np.lexsort((en, st, doc))
    return doc[order], st[order], en[order]


def brute_ordered(spansets, slop):
    """docs where an ordered non-overlapping chain with total gap <=
    slop exists; exhaustive over occurrence tuples."""
    docs = set.intersection(*[set(s[0].tolist()) for s in spansets])
    out = set()
    for d in docs:
        per = []
        for sd, ss, se in spansets:
            sel = sd == d
            per.append(list(zip(ss[sel].tolist(), se[sel].tolist())))
        for combo in itertools.product(*per):
            ok = all(combo[i][1] <= combo[i + 1][0] for i in range(len(combo) - 1))
            if not ok:
                continue
            width = combo[-1][1] - combo[0][0]
            total = sum(e - s for s, e in combo)
            if width - total <= slop:
                out.add(d)
                break
    return sorted(out)


def brute_unordered_pair(a, b, slop):
    docs = set(a[0].tolist()) & set(b[0].tolist())
    out = set()
    for d in docs:
        aa = [(s, e) for dd, s, e in zip(*[x.tolist() for x in a]) if dd == d]
        bb = [(s, e) for dd, s, e in zip(*[x.tolist() for x in b]) if dd == d]
        for (as_, ae), (bs, be) in itertools.product(aa, bb):
            if ae <= bs and bs - ae <= slop:
                out.add(d)
                break
            if be <= as_ and as_ - be <= slop:
                out.add(d)
                break
    return sorted(out)


def test_near_ordered_basic():
    a = mk([1, 1, 2], [0, 5, 3])
    b = mk([1, 2], [1, 10])
    got = sorted(S.matching_docs(S.near_ordered([a, b], 0)).tolist())
    assert got == brute_ordered([a, b], 0) == [1]
    got6 = sorted(S.matching_docs(S.near_ordered([a, b], 6)).tolist())
    assert got6 == brute_ordered([a, b], 6) == [1, 2]


def test_near_ordered_three_terms_random():
    rng = random.Random(42)
    for trial in range(30):
        sets = []
        for _ in range(3):
            n = rng.randint(1, 6)
            docs = [rng.randint(0, 4) for _ in range(n)]
            pos = [rng.randint(0, 12) for _ in range(n)]
            sets.append(mk(docs, pos))
        for slop in (0, 1, 3, 8):
            got = sorted(S.matching_docs(S.near_ordered(sets, slop)).tolist())
            want = brute_ordered(sets, slop)
            assert got == want, (trial, slop, sets, got, want)


def test_near_unordered_pair_random():
    rng = random.Random(7)
    for trial in range(30):
        a = mk([rng.randint(0, 3) for _ in range(5)],
               [rng.randint(0, 10) for _ in range(5)])
        b = mk([rng.randint(0, 3) for _ in range(5)],
               [rng.randint(0, 10) for _ in range(5)])
        for slop in (0, 2, 5):
            got = sorted(S.matching_docs(S.near_unordered([a, b], slop)).tolist())
            want = brute_unordered_pair(a, b, slop)
            assert got == want, (trial, slop, got, want)


def test_or_and_first():
    a = mk([1], [2])
    b = mk([2], [7])
    u = S.or_spans([a, b])
    assert sorted(S.matching_docs(u).tolist()) == [1, 2]
    f = S.first_spans(u, 3)
    assert sorted(S.matching_docs(f).tolist()) == [1]


def test_not_spans():
    inc = mk([1, 1, 2], [0, 5, 3])
    exc = mk([1], [5])
    out = S.not_spans(inc, exc)
    # doc1 pos5 removed (overlap), doc1 pos0 and doc2 pos3 survive
    got = sorted(zip(out[0].tolist(), out[1].tolist()))
    assert got == [(1, 0), (2, 3)]


# ---- engine level -----------------------------------------------------------

@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.testing.corpus import generate_corpus

    pdf = generate_corpus(400, seed=3)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("spix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus, cache=True)
    texts = {
        int(r["docId"]): r["content"]
        for r in eng.corpus.select("docId", "content").collect()
    }
    return eng, texts


def _tok(text):
    from opensearch_spark.analysis.analyzer import tokenize
    return tokenize(text)


def _brute_near_docs(texts, t1, t2, slop, in_order):
    out = set()
    for d, txt in texts.items():
        toks = _tok(txt)
        p1 = [i for i, t in enumerate(toks) if t == t1]
        p2 = [i for i, t in enumerate(toks) if t == t2]
        for a, b in itertools.product(p1, p2):
            if in_order:
                if a < b and b - a - 1 <= slop:
                    out.add(d)
                    break
            else:
                if a != b and abs(b - a) - 1 <= slop:
                    out.add(d)
                    break
    return sorted(out)


def test_engine_span_near(eng):
    engine, texts = eng
    q = {"span_near": {"clauses": [
        {"span_term": {"content": "def"}},
        {"span_term": {"content": "return"}},
    ], "slop": 3, "in_order": True}}
    got = sorted(int(r["docId"]) for r in engine.compile(
        __import__("opensearch_spark.search.dsl", fromlist=["parse"]).parse(q)
    ).collect())
    want = _brute_near_docs(texts, "def", "return", 3, True)
    assert got == want and len(got) > 0


def test_engine_intervals_unordered(eng):
    engine, texts = eng
    from opensearch_spark.search import dsl
    q = {"intervals": {"content": {
        "match": {"query": "def return", "max_gaps": 2, "ordered": False}
    }}}
    got = sorted(int(r["docId"]) for r in engine.compile(dsl.parse(q)).collect())
    want = _brute_near_docs(texts, "def", "return", 2, False)
    assert got == want and len(got) > 0


def test_engine_span_first(eng):
    engine, texts = eng
    from opensearch_spark.search import dsl
    q = {"span_first": {"match": {"span_term": {"content": "import"}}, "end": 3}}
    got = sorted(int(r["docId"]) for r in engine.compile(dsl.parse(q)).collect())
    want = sorted(
        d for d, txt in texts.items() if "import" in _tok(txt)[:3]
    )
    assert got == want and len(got) > 0


def test_engine_span_or_not(eng):
    engine, texts = eng
    from opensearch_spark.search import dsl
    q = {"span_not": {
        "include": {"span_or": {"clauses": [
            {"span_term": {"content": "def"}},
            {"span_term": {"content": "class"}},
        ]}},
        "exclude": {"span_term": {"content": "def"}},
    }}
    got = sorted(int(r["docId"]) for r in engine.compile(dsl.parse(q)).collect())
    # spans surviving: class-occurrences in docs... a doc matches if it
    # has any class occurrence (def spans are excluded exactly)
    want = sorted(d for d, txt in texts.items() if "class" in _tok(txt))
    assert got == want and len(got) > 0


# ---- containment algebra (span_within / span_containing / interval
# filters) vs brute force, property-tested with hypothesis ----------------

from hypothesis import given, settings, strategies as st_


def _spanset(draw, max_doc=5, max_pos=12, max_n=10):
    n = draw(st_.integers(0, max_n))
    doc = [draw(st_.integers(0, max_doc)) for _ in range(n)]
    s = [draw(st_.integers(0, max_pos)) for _ in range(n)]
    w = [draw(st_.integers(1, 3)) for _ in range(n)]
    e = [a + b for a, b in zip(s, w)]
    return mk(doc, s, e)


spanset_st = st_.composite(_spanset)()


def brute_within(little, big):
    ld, ls, le = [x.tolist() for x in little]
    bd, bs, be = [x.tolist() for x in big]
    keep = []
    for i in range(len(ld)):
        ok = any(bd[j] == ld[i] and bs[j] <= ls[i] and be[j] >= le[i]
                 for j in range(len(bd)))
        keep.append(ok)
    return keep


def brute_containing(big, little):
    bd, bs, be = [x.tolist() for x in big]
    ld, ls, le = [x.tolist() for x in little]
    keep = []
    for i in range(len(bd)):
        ok = any(ld[j] == bd[i] and ls[j] >= bs[i] and le[j] <= be[i]
                 for j in range(len(ld)))
        keep.append(ok)
    return keep


def _as_set(s):
    return sorted(zip(*[x.tolist() for x in s]))


@settings(max_examples=200, deadline=None)
@given(spanset_st, spanset_st)
def test_within_spans_matches_brute(little, big):
    got = _as_set(S.within_spans(little, big))
    ld, ls, le = [x.tolist() for x in little]
    keep = brute_within(little, big)
    want = sorted((ld[i], ls[i], le[i]) for i in range(len(ld)) if keep[i])
    assert got == want


@settings(max_examples=200, deadline=None)
@given(spanset_st, spanset_st)
def test_containing_spans_matches_brute(big, little):
    got = _as_set(S.containing_spans(big, little))
    bd, bs, be = [x.tolist() for x in big]
    keep = brute_containing(big, little)
    want = sorted((bd[i], bs[i], be[i]) for i in range(len(bd)) if keep[i])
    assert got == want


@settings(max_examples=100, deadline=None)
@given(spanset_st, spanset_st)
def test_not_variants_are_complements(a, b):
    w = _as_set(S.within_spans(a, b)) + _as_set(S.not_within_spans(a, b))
    assert sorted(w) == _as_set(a)
    c = _as_set(S.containing_spans(a, b)) + _as_set(S.not_containing_spans(a, b))
    assert sorted(c) == _as_set(a)
