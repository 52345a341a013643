"""Percolate (reverse search) cross-checked against the forward engine:
doc d matches stored query q  <=>  d appears in engine.compile(q).

Reference: modules/percolator/PercolateQueryBuilder.java:112.
"""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.search.percolate import percolate
from opensearch_spark.testing.corpus import generate_corpus

STORED = {
    "q_or": {"match": {"content": "def return"}},
    "q_and": {"match": {"content": {"query": "class import", "operator": "and"}}},
    "q_msm": {"match": {"content": {"query": "def class yield self",
                                    "minimum_should_match": 3}}},
    "q_phrase": {"match_phrase": {"content": "public static"}},
    "q_sloppy": {"match_phrase": {"content": {"query": "def main", "slop": 2}}},
    "q_bool": {"bool": {
        "must": [{"match": {"content": "def"}}],
        "should": [{"match": {"content": "import"}}, {"match": {"content": "yield"}}],
        "must_not": [{"match": {"content": "public"}}],
    }},
    "q_missing": {"match": {"content": "zzz_not_a_term"}},
}


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    pdf = generate_corpus(400, seed=13)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("pcix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus, cache=True)
    return eng


def test_percolate_equals_forward_search(setup):
    eng = setup
    got = percolate(eng.corpus, STORED, text_col="content", id_col="docId").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(int(r["doc_id"]))
    n_checked = 0
    for qid, dsl in STORED.items():
        import opensearch_spark.search.dsl as D

        want = {int(r["docId"]) for r in eng.compile(D.parse(dsl)).collect()}
        assert by_q.get(qid, set()) == want, qid
        if want:
            n_checked += 1
    assert n_checked >= 5  # the stored set is not trivially empty


def test_percolate_single_pass_plan(setup):
    eng = setup
    df = percolate(eng.corpus, STORED, text_col="content", id_col="docId")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: one pass over the docs


def test_percolate_unsupported_query_raises(setup):
    eng = setup
    with pytest.raises(ValueError, match="percolator does not support"):
        percolate(eng.corpus, {"bad": {"prefix": {"content": "de"}}},
                  text_col="content", id_col="docId")


def test_streaming_percolate(setup, spark, tmp_path):
    """Continuous queries: percolate inside foreachBatch over a file
    stream (reference: percolator as saved searches over new docs)."""
    import os

    eng = setup
    src = str(tmp_path / "pstream")
    sink = str(tmp_path / "alerts")
    eng.corpus.limit(100).select("docId", "content").write.parquet(src)

    stream = spark.readStream.schema("docId long, content string").parquet(src)

    def on_batch(batch_df, _bid):
        percolate(batch_df, STORED, text_col="content", id_col="docId") \
            .write.mode("append").parquet(sink)

    q = stream.writeStream.foreachBatch(on_batch).trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "cp")).start()
    q.awaitTermination(120)

    alerts = spark.read.parquet(sink)
    assert alerts.count() > 0
    # consistent with batch percolation over the same docs
    want = percolate(
        spark.read.parquet(src), STORED, text_col="content", id_col="docId"
    ).count()
    assert alerts.count() == want
