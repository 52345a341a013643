"""Search pipelines (request/response processors) — reference:
modules/search-pipeline-common."""

import pytest

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.search.pipeline import SearchPipeline
from opensearch_spark.testing.corpus import generate_corpus

Q = {"match": {"content": "def return import"}}


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = generate_corpus(300, seed=21)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("plix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def test_filter_query_processor(eng):
    pl = SearchPipeline(request_processors=[
        {"filter_query": {"query": {"term": {"lang": "python"}}}}
    ])
    out = pl.run(eng, {"query": Q, "size": 20, "_source": ["lang"]})
    rows = out["hits"].collect()
    assert rows and all(r["lang"] == "python" for r in rows)
    # equivalent to an explicit bool filter
    explicit = eng.search({"bool": {"must": [Q],
                                    "filter": [{"term": {"lang": "python"}}]}},
                          k=20).collect()
    assert {int(r["docId"]) for r in rows} == {int(r["docId"]) for r in explicit}


def test_oversample_then_truncate(eng):
    pl = SearchPipeline(
        request_processors=[{"oversample": {"sample_factor": 3,
                                            "original_size": 5}}],
    )
    out = pl.run(eng, {"query": Q, "size": 5})
    assert len(out["hits"].collect()) == 5


def test_response_processors(eng):
    pl = SearchPipeline(response_processors=[
        {"rename_field": {"field": "score", "target_field": "relevance"}},
        {"truncate_hits": {"target_size": 3}},
    ])
    out = pl.run(eng, {"query": Q, "size": 10})
    rows = out["hits"].collect()
    assert len(rows) == 3 and "relevance" in rows[0].asDict()


def test_unknown_processor_raises(eng):
    with pytest.raises(ValueError, match="unknown request processor"):
        SearchPipeline(request_processors=[{"nope": {}}]).process_request({})
