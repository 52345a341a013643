"""query_string / simple_query_string: parse shapes + engine equivalence.

Reference: QueryStringQueryBuilder.java:72 / QueryStringQueryParser.java
(classic Lucene syntax, QueryParserBase.addClause occur rules) and
SimpleQueryStringBuilder.java:91 / SimpleQueryParser (lenient syntax).

Equivalence tests assert that a query string produces byte-identical
results to its explicit-DSL counterpart on a real index — the parser is
pure sugar over the same AST, so the engine plans must coincide.
"""

import pytest
from pyspark.sql import functions as F

import opensearch_spark.search.ast as A
from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.search.querystring import (
    parse_query_string as qs,
    parse_simple_query_string as sqs,
)
from opensearch_spark.testing.corpus import generate_corpus


# ---- parse shapes (no Spark) ------------------------------------------------

def test_default_or_two_terms():
    n = qs("hash join", default_field="t")
    assert isinstance(n, A.Bool) and len(n.should) == 2 and not n.must


def test_and_upgrades_previous():
    n = qs("hash AND join", default_field="t")
    assert isinstance(n, A.Bool) and len(n.must) == 2


def test_mixed_occurs():
    n = qs("+filter scan -vector", default_field="t")
    assert [len(n.must), len(n.should), len(n.must_not)] == [1, 1, 1]


def test_phrase_and_field_group():
    n = qs('"table hash" OR vector', default_field="t")
    assert isinstance(n.should[0], A.MatchPhrase)
    n2 = qs("t:(hash table)", default_field="x")
    assert all(c.field_name == "t" for c in n2.should)


def test_wildcard_prefix_fuzzy_regex():
    assert isinstance(qs("filt*", default_field="t"), A.Prefix)
    assert isinstance(qs("fi?l*", default_field="t"), A.Wildcard)
    f = qs("scann~1", default_field="t")
    assert isinstance(f, A.Fuzzy) and f.fuzziness == 1
    assert isinstance(qs("/b.t.h/", default_field="t"), A.Regexp)


def test_range_and_exists():
    r = qs("n:[100 TO 500]", default_field="t")
    assert isinstance(r, A.RangeQ) and r.gte == 100 and r.lte == 500
    r2 = qs("n:{100 TO *}", default_field="t")
    assert r2.gt == 100 and r2.lte is None and r2.gte is None
    assert isinstance(qs("_exists_:lang", default_field="t"), A.Exists)


def test_boost_suffix():
    n = qs('"table hash"^2', default_field="t")
    assert n.boost == 2.0
    g = qs("(hash table)^3", default_field="t")
    assert g.boost == 3.0


def test_default_and_operator():
    n = qs("a b", default_field="t", default_operator="and")
    assert len(n.must) == 2
    n2 = qs("a OR b", default_field="t", default_operator="and")
    assert len(n2.should) == 2


def test_sqs_shapes():
    n = sqs('"table hash" | vector', field="t")
    assert isinstance(n, A.Bool) and len(n.should) == 2 and n.minimum_should_match == 1
    n2 = sqs("+big +vector", field="t")
    assert len(n2.must) == 2
    n3 = sqs("scan filt* -vector", field="t")
    assert len(n3.should) == 2 and len(n3.must_not) == 1
    assert isinstance(sqs("scann~1", field="t"), A.Fuzzy)


def test_sqs_never_throws():
    for bad in [")(", '"""', "a | | b", "+", "-", "((("]:
        sqs(bad, field="t")  # must not raise
        qs(bad, default_field="t")


# ---- engine equivalence -----------------------------------------------------

@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = generate_corpus(500, seed=7)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("qsix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def _rows(engine, dsl, k=20):
    return [(int(r["docId"]), round(float(r["score"]), 6))
            for r in engine.search(dsl, k=k).collect()]


EQUIV = [
    (
        {"query_string": {"query": "def AND return", "default_field": "content"}},
        {"match": {"content": {"query": "def return", "operator": "and"}}},
    ),
    (
        {"query_string": {"query": '"def main" OR yield', "default_field": "content"}},
        {"bool": {"should": [
            {"match_phrase": {"content": "def main"}},
            {"match": {"content": "yield"}},
        ], "minimum_should_match": 1}},
    ),
    (
        {"query_string": {"query": "+class import -yield", "default_field": "content"}},
        {"bool": {"must": [{"match": {"content": "class"}}],
                  "should": [{"match": {"content": "import"}}],
                  "must_not": [{"match": {"content": "yield"}}]}},
    ),
    (
        {"simple_query_string": {"query": "class | yield", "fields": ["content"]}},
        {"bool": {"should": [{"match": {"content": "class"}},
                             {"match": {"content": "yield"}}],
                  "minimum_should_match": 1}},
    ),
    (
        {"simple_query_string": {"query": "+class +import", "fields": ["content"]}},
        {"bool": {"must": [{"match": {"content": "class"}},
                           {"match": {"content": "import"}}]}},
    ),
]


@pytest.mark.parametrize("qstring,explicit", EQUIV)
def test_equivalence(eng, qstring, explicit):
    got = _rows(eng, qstring)
    want = _rows(eng, explicit)
    assert got == want and len(got) > 0


def test_prefix_via_query_string(eng):
    got = _rows(eng, {"query_string": {"query": "ret*", "default_field": "content"}})
    want = _rows(eng, {"prefix": {"content": "ret"}})
    assert got == want and len(got) > 0


def test_range_via_query_string(eng):
    node = qs("n:[1 TO 5]", default_field="content")
    assert node.gte == 1 and node.lte == 5
