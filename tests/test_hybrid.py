"""Hybrid search: normalization/combination semantics + kNN scorer."""

import math

import pytest
from pyspark.sql import functions as F

from opensearch_spark.search.hybrid import (
    combine_scores,
    hybrid_search,
    knn_scores,
)


def _scored(spark, rows):
    return spark.createDataFrame(rows, "docId long, score double")


def _as_map(df):
    return {r["docId"]: r["score"] for r in df.collect()}


def test_min_max_arithmetic(spark):
    a = _scored(spark, [(1, 10.0), (2, 20.0), (3, 30.0)])
    b = _scored(spark, [(2, 1.0), (3, 3.0), (4, 5.0)])
    out = _as_map(combine_scores([a, b], weights=[0.5, 0.5]))
    # a: 1->0, 2->.5, 3->1 ; b: 2->0, 3->.5, 4->1 ; missing -> 0
    assert out[1] == pytest.approx(0.0)
    assert out[2] == pytest.approx(0.25)
    assert out[3] == pytest.approx(0.75)
    assert out[4] == pytest.approx(0.5)


def test_min_max_degenerate_set_normalizes_to_one(spark):
    a = _scored(spark, [(1, 7.0), (2, 7.0)])
    out = _as_map(combine_scores([a]))
    assert out == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_l2_normalization(spark):
    a = _scored(spark, [(1, 3.0), (2, 4.0)])
    out = _as_map(combine_scores([a], normalization="l2"))
    assert out[1] == pytest.approx(0.6)
    assert out[2] == pytest.approx(0.8)


def test_weights_scale_contributions(spark):
    a = _scored(spark, [(1, 0.0), (2, 1.0)])
    b = _scored(spark, [(1, 1.0), (2, 0.0)])
    # degenerate-free: add a third doc to spread each range
    a = a.unionByName(_scored(spark, [(9, 0.5)]))
    b = b.unionByName(_scored(spark, [(9, 0.5)]))
    out = _as_map(combine_scores([a, b], weights=[3.0, 1.0]))
    # doc1: (3*0 + 1*1)/4 = .25 ; doc2: (3*1 + 1*0)/4 = .75
    assert out[1] == pytest.approx(0.25)
    assert out[2] == pytest.approx(0.75)


def test_geometric_and_harmonic_skip_zeroes(spark):
    a = _scored(spark, [(1, 1.0), (2, 2.0)])   # min_max: 1->0, 2->1
    b = _scored(spark, [(1, 1.0), (2, 3.0), (3, 5.0)])  # 1->0, 2->.5, 3->1
    geo = _as_map(combine_scores([a, b], combination="geometric_mean"))
    # doc2: norms (1, .5) -> exp((ln 1 + ln .5)/2) = sqrt(.5)
    assert geo[2] == pytest.approx(math.sqrt(0.5))
    # doc1: both norms 0 -> no positive scores -> 0
    assert geo[1] == pytest.approx(0.0)
    # doc3: only b present (norm 1) -> 1
    assert geo[3] == pytest.approx(1.0)
    har = _as_map(combine_scores([a, b], combination="harmonic_mean"))
    # doc2: 2 / (1/1 + 1/.5) = 2/3
    assert har[2] == pytest.approx(2.0 / 3.0)
    assert har[1] == pytest.approx(0.0)


def test_validation_errors(spark):
    a = _scored(spark, [(1, 1.0)])
    with pytest.raises(ValueError):
        combine_scores([])
    with pytest.raises(ValueError):
        combine_scores([a], weights=[1.0, 2.0])
    with pytest.raises(ValueError):
        combine_scores([a], weights=[-1.0])
    with pytest.raises(ValueError):
        combine_scores([a], weights=[0.0])
    with pytest.raises(ValueError):
        combine_scores([a], normalization="zscore")
    with pytest.raises(ValueError):
        combine_scores([a], combination="max")


def test_knn_scores_topk_tie_rule(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = knn_scores(emb, [1.0, 0.0], k=3).collect()
    ids = [r["docId"] for r in out]
    # cos: 0->1, 1->1, 3->~.7071, 2->0 ; ties break on id asc
    assert ids == [0, 1, 3]
    assert out[0]["score"] == pytest.approx(1.0)
    assert out[2]["score"] == pytest.approx(round(1 / math.sqrt(2), 5))


def test_hybrid_search_end_to_end(spark, sf_dir):
    import __spark_entry__ as entry

    eng = entry._engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    out = hybrid_search(
        eng, [{"match": {"text": "hash join"}}],
        knn={"query_vector": qv, "k": 10}, emb=emb,
        weights=[0.7, 0.3], size=5,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)
    # the knn query doc itself scores 1.0 on the vector sub-query
    assert any(r["docId"] == 0 for r in rows) or scores[0] <= 1.0


def test_knn_requires_embedding_frame(spark, sf_dir):
    import __spark_entry__ as entry

    eng = entry._engine(spark, sf_dir)
    with pytest.raises(ValueError):
        hybrid_search(eng, [], knn={"query_vector": [1.0], "k": 5})


def test_zero_weight_positive_scores_combine_to_zero(spark):
    """Review r5 round 2: pos_w can be 0.0 (non-null) when every
    positive-scored sub-query carries weight 0 — must yield 0.0, not a
    DIVIDE_BY_ZERO abort under ANSI mode."""
    a = _scored(spark, [(1, 1.0), (2, 2.0)])   # min_max: 1->0, 2->1
    b = _scored(spark, [(2, 1.0), (3, 3.0), (9, 5.0)])
    for comb in ("geometric_mean", "harmonic_mean"):
        out = _as_map(
            combine_scores([a, b], weights=[0.0, 1.0], combination=comb))
        # doc2 is positive ONLY in zero-weight a (b min_max -> 0)
        assert out[2] == pytest.approx(0.0)
        assert out[9] == pytest.approx(1.0)


def test_combine_scores_leaves_no_cached_frame(spark, monkeypatch):
    """Every frame combine_scores persists is released once its result
    is built: after a collect, Spark's cache manager holds none of them."""
    a = _scored(spark, [(1, 10.0), (2, 20.0)])
    b = _scored(spark, [(2, 1.0), (3, 3.0)])
    persisted = []
    orig = type(a).persist

    def spy(self, *args, **kw):
        persisted.append(self)
        return orig(self, *args, **kw)

    monkeypatch.setattr(type(a), "persist", spy)
    assert len(combine_scores([a, b]).collect()) == 3
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert persisted
    for df in persisted:
        assert cm.lookupCachedData(df._jdf).isEmpty()
