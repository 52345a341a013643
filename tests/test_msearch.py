"""msearch (batched multi-query) must be result-identical to per-query
search. Reference: `_msearch` executes each request with identical
semantics to `_search` (TransportMultiSearchAction.java)."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

K = 10

BATCH = [
    {"match": {"content": "def return import"}},
    {"match": {"content": {"query": "data load parse", "operator": "and"}}},
    {"match": {"content": {"query": "class import yield self", "minimum_should_match": 2}}},
    {"match_phrase": {"content": "public static"}},
    {"match_phrase": {"content": "return self"}},
    {
        "bool": {
            "must": [{"match": {"content": "class"}}],
            "should": [{"match": {"content": "import"}}, {"match": {"content": "yield"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "must_not": [{"match": {"content": "class"}}],
        }
    },
    {
        "bool": {
            "must": [{"match_phrase": {"content": "def main"}}],
            "filter": [{"match": {"content": "import"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "should": [{"match_phrase": {"content": {"query": "self return", "slop": 3}}}],
        }
    },
    {"match": {"content": "zzz_not_a_term"}},
    {"match": {"content": "def zzz_not_a_term"}},
    # fallback family (not match/phrase/bool-of-those):
    {"prefix": {"content": "ret"}},
    {"query_string": {"query": "def AND return", "default_field": "content"}},
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = generate_corpus(600, seed=11)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("msix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


def test_msearch_matches_per_query_search(eng):
    got = eng.msearch(BATCH, k=K).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(int(r["qid"]), []).append(
            (int(r["docId"]), round(float(r["score"]), 9))
        )
    n_nonempty = 0
    for qid, q in enumerate(BATCH):
        want = [
            (int(r["docId"]), round(float(r["score"]), 9))
            for r in eng.search(q, k=K).collect()
        ]
        assert by_qid.get(qid, []) == want, f"qid {qid} mismatch: {q}"
        if want:
            n_nonempty += 1
    assert n_nonempty >= 9  # the batch isn't trivially empty


def test_msearch_single_job_plan(eng, spark_path):
    """The hot-path queries must compile into ONE applyInPandas stage:
    no per-query postings scans."""
    hot = [q for q in BATCH[:8]]
    df = eng.msearch(hot, k=K)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one FlatMapGroupsInPandas for the whole batch
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_msearch_empty_batch(eng):
    assert eng.msearch([], k=K).count() == 0


def test_msearch_plan_cache_and_many(eng, spark_path):
    """Identical batches return the SAME compiled DataFrame (Catalyst
    analysis paid once); msearch_many pipelines batches and matches the
    sequential results exactly."""
    batch = BATCH[:6]
    d1 = eng.msearch(batch, k=K)
    d2 = eng.msearch(batch, k=K)
    assert d1 is d2  # plan-cache hit
    assert eng.msearch(batch, k=K + 1) is not d1  # k is part of the key

    want = [(int(r["qid"]), int(r["docId"]), round(float(r["score"]), 6))
            for r in d1.collect()]
    many = eng.msearch_many([batch, batch, batch], k=K, max_concurrent=3)
    assert len(many) == 3
    for rows in many:
        got = [(int(r["qid"]), int(r["docId"]), round(float(r["score"]), 6))
               for r in rows]
        assert got == want


def test_search_hot_query_plan_cache(eng, spark_path):
    """Repeated identical search() returns the same compiled DataFrame
    (request-cache analog); a delete invalidates it and results drop the
    tombstoned doc."""
    q = {"match": {"content": "def return"}}
    d1 = eng.search(q, k=7)
    assert eng.search(q, k=7) is d1
    assert eng.search(q, k=8) is not d1
    rows = d1.collect()
    victim = int(rows[0]["docId"])
    kept = eng.globals["files"]["deletes"]
    eng.delete([victim])
    try:
        d2 = eng.search(q, k=7)
        assert d2 is not d1
        assert victim not in [int(r["docId"]) for r in d2.collect()]
    finally:
        _undelete(eng, kept)


def _undelete(eng, kept):
    """Leave the module fixture clean for other tests: publish the index
    with its tombstone list back at ``kept`` and serve that commit."""
    from opensearch_spark.index.manifest import publish, read_manifest, with_files

    m = read_manifest(eng.paths.root)
    eng._load_deletes(publish(eng.paths, with_files(m, deletes=kept)))


def _rows(df):
    return [(int(r["qid"]), int(r["docId"]), float(r["score"])) for r in df.collect()]


PROGRAMS = BATCH[:11]  # every match/phrase/bool-of-those query


def test_msearch_tier_matches_spark(eng, tier):
    """A batch of program queries answered by the driver-local tier is
    per-qid equal to the Spark plan; one fallback query sends the whole
    batch to Spark, still equal."""
    tier(True)
    on = eng.msearch(PROGRAMS, k=K)
    assert "LocalTableScan" in on._jdf.queryExecution().executedPlan().toString()
    on = _rows(on)
    tier(False)
    off = _rows(eng.msearch(PROGRAMS, k=K))
    assert on == off and len({q for q, _, _ in on}) >= 9
    tier(True)
    mixed = eng.msearch(BATCH, k=K)
    assert "FlatMapGroupsInPandas" in mixed._jdf.queryExecution().executedPlan().toString()
    mixed = _rows(mixed)
    tier(False)
    assert mixed == _rows(eng.msearch(BATCH, k=K))
    assert [r for r in mixed if r[0] < len(PROGRAMS)] == on


def test_msearch_tier_tombstones_and_many(eng, tier):
    """Tombstones over-fetch per segment on the tier as on Spark, and
    msearch_many's threads get the same rows."""
    tier(True)
    victims = sorted({d for _, d, _ in _rows(eng.msearch(PROGRAMS, k=3))})
    kept = eng.globals["files"]["deletes"]
    eng.delete(victims)
    try:
        on = _rows(eng.msearch(PROGRAMS, k=K))
        assert not set(victims) & {d for _, d, _ in on}
        many = eng.msearch_many([PROGRAMS, PROGRAMS[:4]], k=K, max_concurrent=2)
        assert [(int(r["qid"]), int(r["docId"]), float(r["score"]))
                for r in many[0]] == on
        tier(False)
        assert _rows(eng.msearch(PROGRAMS, k=K)) == on
    finally:
        _undelete(eng, kept)


def test_msearch_many_tier_threads(spark, eng, tier):
    """More msearch_many threads than cores on one fresh engine: the
    tier's first-use state (pinned postings, term map) is built once and
    every thread gets the sequential answer."""
    import sys
    import threading

    tier(True)
    want = _rows(eng.msearch(PROGRAMS, k=K))
    fresh = SearchEngine(spark, eng.paths.root, corpus=eng.corpus)
    batches = [PROGRAMS] * 12
    out = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=lambda: out.update(
            rows=fresh.msearch_many(batches, k=K, max_concurrent=12)))
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive()
    assert len(out["rows"]) == len(batches)
    for rows in out["rows"]:
        assert [(int(r["qid"]), int(r["docId"]), float(r["score"]))
                for r in rows] == want


def test_msearch_many_tier_threads_mixed(spark, eng, tier):
    """Twelve msearch_many threads on one fresh engine's resident table,
    phrase batches and match batches interleaved (a phrase needs
    positions of rows a match decoded without them): every batch equals
    the Spark plan's answer."""
    import sys
    import threading

    phrases = [q for q in PROGRAMS if "match_phrase" in str(q)]
    matches = [q for q in PROGRAMS if "match_phrase" not in str(q)]
    assert phrases and matches
    tier(False)
    want = {id(b): _rows(eng.msearch(b, k=K)) for b in (phrases, matches)}
    tier(True)
    fresh = SearchEngine(spark, eng.paths.root, corpus=eng.corpus)
    batches = [matches, phrases] * 6
    out = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=lambda: out.update(
            rows=fresh.msearch_many(batches, k=K, max_concurrent=12)))
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive()
    assert len(out["rows"]) == len(batches)
    for b, rows in zip(batches, out["rows"]):
        assert [(int(r["qid"]), int(r["docId"]), float(r["score"]))
                for r in rows] == want[id(b)]
