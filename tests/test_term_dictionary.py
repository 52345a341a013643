"""The engine's term dictionary and tombstones are read in the driver with
pyarrow: every term and prefix lookup is answered from one dictionary
that equals the per-term sums of the commit's termstats rows, with no
Spark job; opening an engine over tombstones runs none either."""

import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opensearch_spark.index.build import build_index
from opensearch_spark.index.incremental import add_batch
from opensearch_spark.search import ast as A
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
