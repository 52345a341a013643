"""nested query: explode + score_mode over array<struct> sub-docs.

Reference: NestedQueryBuilder.java:83 (block-join over hidden child
docs; here children live inline in the parent row)."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = generate_corpus(200, seed=31)
    corpus = spark.createDataFrame(pdf)
    # synthesize a nested comments column: array<struct<author,stars>>
    corpus = corpus.withColumn(
        "comments",
        F.expr("""
            transform(sequence(1, 1 + pmod(xxhash64(path), 4)), i ->
              named_struct(
                'author', concat('user', pmod(xxhash64(path, i), 7)),
                'stars', cast(pmod(xxhash64(commit, i), 6) as int)))
        """),
    )
    out = str(tmp_path_factory.mktemp("nix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def brute(eng, cond, mode):
    rows = eng.corpus.select("docId", "comments").collect()
    out = {}
    for r in rows:
        scores = [1.0 for ch in (r["comments"] or []) if cond(ch)]
        if scores:
            out[int(r["docId"])] = {
                "sum": sum(scores), "max": max(scores),
                "avg": sum(scores) / len(scores), "none": 0.0,
            }[mode]
    return out


@pytest.mark.parametrize("mode", ["sum", "avg", "none"])
def test_nested_term_score_modes(eng, mode):
    q = {"nested": {"path": "comments",
                    "query": {"term": {"comments.author": "user3"}},
                    "score_mode": mode}}
    got = {int(r["docId"]): float(r["score"])
           for r in eng.compile(__import__("opensearch_spark.search.dsl",
                                           fromlist=["parse"]).parse(q)).collect()}
    want = brute(eng, lambda ch: ch["author"] == "user3", mode)
    assert got.keys() == want.keys() and len(got) > 0
    for d in got:
        assert abs(got[d] - want[d]) < 1e-9


def test_nested_bool_range(eng):
    from opensearch_spark.search import dsl
    q = {"nested": {"path": "comments", "score_mode": "sum",
                    "query": {"bool": {
                        "must": [{"range": {"comments.stars": {"gte": 4}}}],
                        "must_not": [{"term": {"comments.author": "user0"}}],
                    }}}}
    got = {int(r["docId"]): float(r["score"])
           for r in eng.compile(dsl.parse(q)).collect()}
    want = brute(eng, lambda ch: ch["stars"] >= 4 and ch["author"] != "user0", "sum")
    assert got == want and len(got) > 0


def test_nested_unsupported_inner(eng):
    from opensearch_spark.search import dsl
    with pytest.raises(ValueError, match="term-level predicates"):
        eng.compile(dsl.parse({"nested": {"path": "comments",
                                          "query": {"match": {"comments.author": "x"}}}}))
