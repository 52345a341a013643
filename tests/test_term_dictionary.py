"""The engine's term dictionary and tombstones are read in the driver with
pyarrow: every term lookup, expansion (prefix, wildcard, regexp, fuzzy)
and term/phrase suggestion is answered from one dictionary that equals
the per-term sums of the commit's termstats rows, with no Spark job;
opening an engine over tombstones runs none either."""

import fnmatch
import itertools
import math
import re
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opensearch_spark.index.build import build_index
from opensearch_spark.index.incremental import add_batch
from opensearch_spark.search import ast as A, dsl
from opensearch_spark.search.engine import SearchEngine, StaleIndexError
from opensearch_spark.testing.corpus import generate_corpus


@pytest.fixture(scope="module")
def two_gen(spark, tmp_path_factory):
    """An engine over a build plus one ``add_batch`` generation, and the
    per-term (df, ttf) sums of its termstats rows, read with pyarrow."""
    pdf = generate_corpus(200, seed=7)
    out = str(tmp_path_factory.mktemp("termdict") / "ix")
    build_index(spark, spark.createDataFrame(pdf.iloc[:140]), out, n_segments=3)
    add_batch(spark, spark.createDataFrame(pdf.iloc[140:]), out)
    eng = SearchEngine(spark, out, corpus=spark.createDataFrame(pdf))
    t = pa.concat_tables([
        pq.read_table(eng.paths.table("termstats", f), columns=["term", "df", "ttf"])
        for f in eng.globals["files"]["termstats"]])
    stats: dict = {}
    for term, df, ttf in zip(*(t.column(c).to_pylist() for c in ("term", "df", "ttf"))):
        d, f = stats.get(term, (0, 0))
        stats[term] = (d + df, f + ttf)
    assert len(stats) < t.num_rows  # some terms span both generations
    return eng, stats


def test_dictionary_equals_termstats_sums(two_gen, jobs):
    eng, stats = two_gen
    n, m = jobs(eng._load_term_df_map)
    assert n == 0
    assert m == {t: d for t, (d, _) in stats.items()}
    assert eng._terms == sorted(stats)
    did = int(eng.corpus.select("docId").orderBy("docId").first()[0])
    tv = eng.termvectors(did, term_statistics=True)
    assert tv["terms"]
    for term, e in tv["terms"].items():
        assert (e["doc_freq"], e["ttf"]) == stats[term]
    assert tv["field_statistics"] == {
        "doc_count": eng.doc_count,
        "sum_doc_freq": sum(d for d, _ in stats.values()),
        "sum_ttf": sum(f for _, f in stats.values())}
    mtv = eng.mtermvectors([did, 10_000_000], term_statistics=True)
    assert mtv[0]["terms"] == tv["terms"]
    assert mtv[0]["field_statistics"] == tv["field_statistics"]
    assert mtv[1] == {"found": False, "_id": 10_000_000}


def test_prefix_lookups_run_no_job(two_gen, jobs):
    eng, stats = two_gen
    for pref in ("", "d", "re", "zzz_none"):
        want = sorted(t for t in stats if t.startswith(pref))
        n, got = jobs(lambda: eng.expand_terms(A.Prefix(field_name="content", value=pref,
                                                        max_expansions=7)))
        assert n == 0 and got == want[:7]
        n, got = jobs(lambda: eng.suggest_completion(pref, size=4))
        top = sorted(want, key=lambda t: (-stats[t][0], t))[:4]
        assert n == 0 and got == [{"text": t, "weight": stats[t][0]} for t in top]


def lev(a: str, b: str) -> int:
    """Plain dynamic-programming edit distance."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("node,keep", [
    (A.Wildcard(value="*data"), lambda t: fnmatch.fnmatchcase(t, "*data")),
    (A.Wildcard(value="?et*"), lambda t: fnmatch.fnmatchcase(t, "?et*")),
    (A.Wildcard(value="ret?rn"), lambda t: fnmatch.fnmatchcase(t, "ret?rn")),
    (A.Regexp(value="ca.c[0-9]+|gen_.*"),
     lambda t: re.fullmatch("ca.c[0-9]+|gen_.*", t)),
    (A.Fuzzy(value="cfg", fuzziness=2), lambda t: lev(t, "cfg") <= 2),
    (A.Fuzzy(value="dat", fuzziness=2, prefix_length=1),
     lambda t: t.startswith("d") and lev(t, "dat") <= 2),
    (A.Fuzzy(value="dat", fuzziness=2, max_expansions=3), lambda t: lev(t, "dat") <= 2),
], ids=["leading_star", "question", "anchored", "regexp", "fuzzy", "fuzzy_prefix",
        "fuzzy_cut"])
def test_expansion_matches_brute_force(two_gen, jobs, node, keep):
    eng, stats = two_gen
    want = [t for t in sorted(stats) if keep(t)]
    assert want
    n, got = jobs(lambda: eng.expand_terms(node))
    assert n == 0 and got == want[:node.max_expansions]
    if node.value == "ret?rn":
        assert got == ["return"]


def test_bad_regexp_raises_value_error(two_gen):
    with pytest.raises(ValueError):
        two_gen[0].expand_terms(A.Regexp(value="(?=a)b"))


def suggestions(stats, tok, size, mode, max_edits=2, prefix_length=1, min_doc_freq=1):
    """Every dictionary term within ``max_edits`` sharing the prefix,
    filtered by mode and min_doc_freq, ordered (distance, -df, term)."""
    df = stats.get(tok, (0, 0))[0]
    if mode == "missing" and df > 0:
        return []
    cand = sorted((lev(t, tok), -d, t) for t, (d, _) in stats.items()
                  if t != tok and t.startswith(tok[:prefix_length])
                  and lev(t, tok) <= max_edits and d >= min_doc_freq
                  and (mode != "popular" or d > df))
    return [{"text": t, "freq": -f, "distance": e} for e, f, t in cand[:size]]


@pytest.mark.parametrize("mode", ["missing", "popular", "always"])
def test_suggest_matches_brute_force(two_gen, jobs, mode):
    eng, stats = two_gen
    text = "retrun dat calc"  # a misspelling and two indexed tokens
    n, got = jobs(lambda: eng.suggest(text, size=4, suggest_mode=mode))
    assert n == 0
    assert got == {tok: suggestions(stats, tok, 4, mode) for tok in text.split()}
    assert any(got.values())


def test_suggest_phrase_matches_brute_force(two_gen, jobs):
    """Size covers the whole candidate product, so the beam keeps every
    phrase: the reference scores the full product."""
    eng, stats = two_gen
    toks, cands, rwel = ["dat", "cfg"], 2, 0.95
    err = math.log(1 - rwel)
    per_token = []
    for tok in toks:
        df = stats.get(tok, (0, 0))[0]
        own = math.log((df + 1) / (eng.doc_count + 1)) + (math.log(rwel) if df else err)
        per_token.append([(tok, own)] + [
            (s["text"], math.log((s["freq"] + 1) / (eng.doc_count + 1)) + s["distance"] * err)
            for s in suggestions(stats, tok, cands, "always")])
    want = sorted((-sum(s for _, s in combo), " ".join(w for w, _ in combo))
                  for combo in itertools.product(*per_token))
    want = [{"text": t, "score": -s} for s, t in want if t != "dat cfg"][:9]
    n, got = jobs(lambda: eng.suggest_phrase("dat cfg", size=9, max_candidates=cands))
    assert n == 0 and len(got) == len(want) > 1
    assert [g["text"] for g in got] == [w["text"] for w in want]
    assert [g["score"] for g in got] == pytest.approx([w["score"] for w in want])


def test_open_engine_expands_its_own_commit(spark, tmp_path, jobs):
    """After ``add_batch``, an engine opened before it expands from its
    own dictionary; a new engine sees the new term."""
    pdf = generate_corpus(120, seed=61)
    out = str(tmp_path / "wix")
    build_index(spark, spark.createDataFrame(pdf), out, n_segments=2)
    eng = SearchEngine(spark, out)
    assert eng.expand_terms(A.Wildcard(value="*eturn*"))
    new = pdf.iloc[:1].assign(path="p_new", content="zzwildly new content")
    add_batch(spark, spark.createDataFrame(new), out)
    assert eng.expand_terms(A.Wildcard(value="zzwild*")) == []
    assert eng.expand_terms(A.Wildcard(value="*eturn*"))
    n, got = jobs(lambda: SearchEngine(spark, out).expand_terms(A.Wildcard(value="*ildly")))
    assert n == 0 and got == ["zzwildly"]


def test_one_term_phrase_prefix_honours_max_expansions(two_gen):
    """match_phrase_prefix with no fixed terms keeps the node's
    max_expansions: only docs that hold the first expansion match."""
    eng, _ = two_gen
    first = eng.expand_terms(A.Prefix(value="calc"))[:2]
    assert len(first) == 2

    def docs(q):
        return {r["docId"] for r in eng.compile(dsl.parse(q)).collect()}

    got = docs({"match_phrase_prefix": {"content": {"query": "calc", "max_expansions": 1}}})
    holds = docs({"match": {"content": first[0]}})
    other = docs({"match": {"content": first[1]}})
    assert got == holds and other - holds


def test_term_statistics_add_no_job(two_gen, jobs):
    eng, _ = two_gen
    did = int(eng.corpus.select("docId").orderBy("docId").first()[0])
    plain, _ = jobs(lambda: eng.termvectors(did, field_statistics=False))
    full, _ = jobs(lambda: eng.termvectors(did, term_statistics=True))
    assert full == plain


@pytest.fixture
def ws_index(spark, tmp_path):
    """A 2-doc whitespace-analyzed index (case kept) and its corpus."""
    corpus = spark.createDataFrame(pd.DataFrame(
        [("r", "a", "c1", "Foobar here", "x"), ("r", "b", "c1", "Foolish Foobar", "x")],
        columns=["repo", "path", "commit", "content", "lang"]))
    out = str(tmp_path / "ws")
    build_index(spark, corpus, out, n_segments=2, analyzer="whitespace")
    return out, corpus


def test_completion_keeps_case_on_whitespace_index(spark, ws_index):
    eng = SearchEngine(spark, ws_index[0], corpus=ws_index[1])
    assert eng.expand_terms(A.Prefix(field_name="content", value="Foo")) == [
        "Foobar", "Foolish"]
    assert eng.suggest_completion("Foo") == [{"text": "Foobar", "weight": 2},
                                             {"text": "Foolish", "weight": 1}]
    assert eng.suggest_completion("foo") == []


def test_tombstones_open_with_no_job(spark, ws_index, jobs):
    out, corpus = ws_index
    eng = SearchEngine(spark, out, corpus=corpus)
    ids = sorted(int(r[0]) for r in eng.corpus.select("docId").collect())
    eng.delete([ids[0]])
    eng.delete([ids[0], ids[1]])
    assert eng._deleted_ids.tolist() == ids and eng._n_deletes == 2
    n, fresh = jobs(lambda: SearchEngine(spark, out, corpus=corpus))
    assert n == 0
    assert fresh._deleted_ids.tolist() == ids and fresh._n_deletes == 2
    assert fresh.deletes.count() == 2  # the Spark plans' tombstones agree


def test_gone_files_raise_stale(spark, ws_index):
    out, corpus = ws_index
    eng = SearchEngine(spark, out, corpus=corpus)
    eng.delete([1])
    shutil.rmtree(eng.paths.table("termstats"))
    with pytest.raises(StaleIndexError):
        eng._load_term_df_map()
    shutil.rmtree(eng.paths.table("deletes"))
    with pytest.raises(StaleIndexError):
        eng._load_deletes()
