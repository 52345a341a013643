"""_rank_eval metrics vs hand-computed values (reference:
modules/rank-eval — PrecisionAtK.java:64, MeanReciprocalRank.java,
DiscountedCumulativeGain.java, ExpectedReciprocalRank.java)."""

import math

import pytest

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.search.rankeval import _metric_value
from opensearch_spark.testing.corpus import generate_corpus


def test_metric_math_hand_checked():
    rmap = {1: 3, 2: 0, 3: 1, 4: 2}   # docId -> graded rating
    ranked = [9, 1, 2, 3, 5]
    # precision@5, threshold 1: relevant in top5 = {1,3} -> 2/5
    assert _metric_value("precision", {"k": 5}, ranked, rmap) == 2 / 5
    # ignore_unlabeled: labeled in top5 = [1,2,3] -> 2/3
    assert _metric_value("precision", {"k": 5, "ignore_unlabeled": True},
                         ranked, rmap) == 2 / 3
    # recall@5: total relevant = {1,3,4} -> 2/3
    assert _metric_value("recall", {"k": 5}, ranked, rmap) == 2 / 3
    # MRR: first relevant at rank 2
    assert _metric_value("mean_reciprocal_rank", {"k": 5}, ranked, rmap) == 0.5
    # DCG@5: gains [0,3,0,1,0]
    want = (2**0 - 1) / math.log2(2) + (2**3 - 1) / math.log2(3) \
        + (2**0 - 1) / math.log2(4) + (2**1 - 1) / math.log2(5) \
        + (2**0 - 1) / math.log2(6)
    got = _metric_value("dcg", {"k": 5}, ranked, rmap)
    assert abs(got - want) < 1e-12
    # NDCG: ideal gains [3,2,1,0]
    ideal = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) \
        + (2**1 - 1) / math.log2(4) + 0
    assert abs(
        _metric_value("dcg", {"k": 5, "normalize": True}, ranked, rmap)
        - want / ideal) < 1e-12
    # ERR@3 with max_g = 3
    r = [(2**rmap.get(d, 0) - 1) / 8 for d in ranked[:3]]
    want_err = r[0] / 1 + (1 - r[0]) * r[1] / 2 + (1 - r[0]) * (1 - r[1]) * r[2] / 3
    assert abs(
        _metric_value("expected_reciprocal_rank",
                      {"k": 3, "maximum_relevance": 3}, ranked, rmap)
        - want_err) < 1e-12


def test_rank_eval_end_to_end(spark, tmp_path):
    corpus = spark.createDataFrame(generate_corpus(200, seed=31))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    q = {"match": {"content": "def return"}}
    top = [int(r["docId"]) for r in eng.search(q, k=5).collect()]
    assert top
    # rate the top hit relevant and the 2nd irrelevant
    body = {
        "requests": [{
            "id": "q1", "request": {"query": q},
            "ratings": [{"_id": top[0], "rating": 2}]
            + ([{"_id": top[1], "rating": 0}] if len(top) > 1 else []),
        }],
        "metric": {"precision": {"k": 5, "ignore_unlabeled": True}},
    }
    res = eng.rank_eval(body)
    assert res["metric_score"] == 1 / 2 if len(top) > 1 else 1.0
    d = res["details"]["q1"]
    assert d["hits"][0][0] == top[0] and d["hits"][0][1] == 2
    assert d["unrated_docs"] == max(0, len(top) - 2)
    # MRR through the same surface: first relevant is rank 1
    body["metric"] = {"mean_reciprocal_rank": {"k": 5}}
    assert eng.rank_eval(body)["metric_score"] == 1.0
