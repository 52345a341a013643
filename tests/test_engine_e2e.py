"""End-to-end rank-identity: Spark engine vs brute-force NumPy oracle.

Builds the inverted index over the deterministic synthetic corpus
(FIXTURES.md §1) and asserts top-k docIDs rank-identical + scores within
atol for the reference query families: match OR/AND, bool combinations,
and exact phrases (FIXTURES.md §2-3).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing import brute
from opensearch_spark.testing.corpus import generate_corpus

N_DOCS = 600
K = 10
ATOL = 1e-6


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    pdf = generate_corpus(N_DOCS, seed=42)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("ix") / "index")
    build_index(spark, corpus, out, n_segments=4)
    engine = SearchEngine(spark, out, corpus=corpus, cache=True)

    # brute oracle over identical docIds
    with_ids = corpus.withColumn("docId", F.xxhash64("repo", "path", "commit")).select(
        "docId", "content"
    ).collect()
    docs = {int(r["docId"]): r["content"] for r in with_ids}
    assert len(docs) == N_DOCS, "docId collision at test scale"
    bix = brute.build_from_texts(docs)
    return engine, bix


def run(engine, dsl, k=K):
    return [(int(r["docId"]), float(r["score"])) for r in engine.search(dsl, k=k).collect()]


MATCH_QUERIES = [
    {"match": {"content": "def return"}},
    {"match": {"content": "import"}},
    {"match": {"content": "data load parse"}},
    {"match": {"content": {"query": "public static void", "operator": "and"}}},
    {"match": {"content": {"query": "func package", "operator": "and"}}},
    {"match": {"content": "snake_case_name x86_64"}},
    {"match": {"content": "zzz_not_a_term"}},
    {"match": {"content": {"query": "def zzz_not_a_term", "operator": "and"}}},
    {"match": {"content": ""}},
    {"match": {"content": "!!!"}},
    {"match": {"content": {"query": "data load parse node", "minimum_should_match": 2}}},
]


@pytest.mark.parametrize("dsl", MATCH_QUERIES, ids=[str(i) for i in range(len(MATCH_QUERIES))])
def test_match_rank_identity(setup, dsl):
    engine, bix = setup
    spec = dsl["match"]["content"]
    if isinstance(spec, dict):
        scores = brute.match(
            bix, spec["query"], spec.get("operator", "or"),
            int(spec.get("minimum_should_match", 0)),
        )
    else:
        scores = brute.match(bix, spec)
    expected = brute.topk(scores, K)
    got = run(engine, dsl)
    assert brute.rank_identical(got, expected, ATOL), f"{dsl}\n got={got[:5]}\n exp={expected[:5]}"


PHRASES = [
    "for i in range",
    "public static void",
    "def return",
    "data",
    "zzz missing phrase",
    "import import",
]


@pytest.mark.parametrize("q", PHRASES)
def test_phrase_rank_identity(setup, q):
    engine, bix = setup
    expected = brute.topk(brute.phrase(bix, q), K)
    got = run(engine, {"match_phrase": {"content": q}})
    assert brute.rank_identical(got, expected, ATOL), f"{q}\n got={got[:5]}\n exp={expected[:5]}"


def test_phrase_hits_verified_against_tokens(setup):
    """Every phrase hit really contains the adjacent token sequence."""
    engine, bix = setup
    q = "def return"
    got = run(engine, {"match_phrase": {"content": q}}, k=50)
    terms = tokenize(q)
    for d, _ in got:
        toks = bix.tokens[d]
        assert any(toks[i : i + 2] == terms for i in range(len(toks) - 1)), d


def test_bool_must_should_msm(setup):
    engine, bix = setup
    dsl = {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "should": [{"match": {"content": "return"}}, {"match": {"content": "yield"}}],
            "minimum_should_match": 1,
        }
    }
    expected = brute.topk(
        brute.bool_query(
            bix,
            must=[brute.match(bix, "def")],
            should=[brute.match(bix, "return"), brute.match(bix, "yield")],
            msm=1,
        ),
        K,
    )
    got = run(engine, dsl)
    assert brute.rank_identical(got, expected, ATOL)
    # a should clause that matches nothing still counts toward msm
    dsl["bool"]["should"] = [{"match": {"content": "zzz_not_a_term"}}]
    assert run(engine, dsl) == []
    assert engine.count(dsl) == 0


def test_bool_must_not(setup):
    engine, bix = setup
    dsl = {
        "bool": {
            "must": [{"match": {"content": "class"}}],
            "must_not": [{"match": {"content": "interface"}}],
        }
    }
    expected = brute.topk(
        brute.bool_query(
            bix,
            must=[brute.match(bix, "class")],
            must_not=[brute.match(bix, "interface")],
        ),
        K,
    )
    got = run(engine, dsl)
    assert brute.rank_identical(got, expected, ATOL)


def test_bool_filter_only_scores_zero(setup):
    engine, _ = setup
    dsl = {"bool": {"filter": [{"match": {"content": "def"}}]}}
    got = run(engine, dsl, k=5)
    assert got and all(s == 0.0 for _, s in got)


def test_bool_pure_negative(setup):
    engine, bix = setup
    dsl = {"bool": {"must_not": [{"match": {"content": "def"}}]}}
    got = run(engine, dsl, k=20)
    matched = set(brute.match(bix, "def"))
    assert got and all(d not in matched for d, _ in got)
    assert all(s == 1.0 for _, s in got)
    n_expected = len(bix.all_doc_ids) - len(matched)
    assert engine.count(dsl) == n_expected


def test_nested_bool(setup):
    engine, bix = setup
    dsl = {
        "bool": {
            "must": [
                {"match": {"content": "def"}},
                {"bool": {"should": [
                    {"match": {"content": "import"}},
                    {"match": {"content": "yield"}},
                ]}},
            ]
        }
    }
    inner = brute.bool_query(
        bix, should=[brute.match(bix, "import"), brute.match(bix, "yield")], msm=1
    )
    expected = brute.topk(
        brute.bool_query(bix, must=[brute.match(bix, "def"), inner]), K
    )
    got = run(engine, dsl)
    assert brute.rank_identical(got, expected, ATOL)


def test_meta_filter_and_fulltext(setup):
    engine, bix = setup
    dsl = {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "filter": [{"term": {"lang": "python"}}],
        }
    }
    got = run(engine, dsl, k=30)
    langs = {
        int(r["docId"]): r["lang"]
        for r in engine.corpus.select("docId", "lang").collect()
    }
    assert got
    assert all(langs[d] == "python" for d, _ in got)
    m = brute.match(bix, "def")
    for d, s in got:
        assert abs(s - m[d]) < ATOL


def test_match_all_and_ids(setup):
    engine, _ = setup
    assert engine.count({"match_all": {}}) == N_DOCS
    some = [r["docId"] for r in engine.docstats.limit(3).collect()]
    assert engine.count({"ids": {"values": some}}) == 3


def test_total_hits(setup):
    engine, bix = setup
    for q in ["def", "import numpy", "zzz_not_a_term"]:
        assert engine.count({"match": {"content": q}}) == len(brute.match(bix, q))


def test_content_sha_invariant(setup):
    """Per-row invariant: sha2(content,256) in docstats == recomputed from
    corpus after the fetch join (north-rule content integrity)."""
    engine, _ = setup
    hits = engine.search({"match": {"content": "def"}}, k=20)
    fetched = engine.fetch(hits).withColumn(
        "sha_now", F.sha2(F.col("content"), 256)
    )
    joined = fetched.join(
        engine.docstats.select("docId", "content_sha"), "docId"
    )
    bad = joined.where(F.col("sha_now") != F.col("content_sha")).count()
    assert bad == 0


def test_fetch_returns_rows(setup):
    engine, _ = setup
    hits = engine.search({"match": {"content": "import"}}, k=5)
    rows = engine.fetch(hits).collect()
    assert len(rows) == 5
    assert "content" in rows[0].asDict()


def test_dis_max(setup):
    engine, bix = setup
    dsl = {
        "dis_max": {
            "queries": [{"match": {"content": "def"}}, {"match": {"content": "class"}}],
            "tie_breaker": 0.5,
        }
    }
    m1, m2 = brute.match(bix, "def"), brute.match(bix, "class")
    exp = {}
    for d in set(m1) | set(m2):
        s = sorted([m1.get(d, 0.0), m2.get(d, 0.0)])
        exp[d] = s[1] + 0.5 * s[0]
    expected = brute.topk(exp, K)
    got = run(engine, dsl)
    assert brute.rank_identical(got, expected, ATOL)


def test_bool_program_path_rank_identity(setup, spark_path):
    """search() runs a bool of match/phrase leaves as ONE per-segment
    program scorer (no per-clause union, no docId aggregation); its
    pruned top-k is rank-identical to the unpruned program (compile())
    and to the brute-force oracle."""
    engine, bix = setup
    dsl = {
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "should": [
                {"match": {"content": "return"}},
                {"match_phrase": {"content": "import numpy"}},
            ],
            "must_not": [{"match": {"content": "lambda"}}],
        }
    }
    from opensearch_spark.search import dsl as dsl_mod

    node = dsl_mod.parse(dsl)
    plan = engine.search(dsl, k=10)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "HashAggregate" not in plan, plan
    got = run(engine, dsl, k=10)
    exhaustive = [
        (int(r["docId"]), round(float(r["score"]), 9))
        for r in engine.compile(node)
        .orderBy(F.desc("score"), F.asc("docId"))
        .limit(10)
        .collect()
    ]
    assert [(d, round(s, 9)) for d, s in got] == exhaustive
    expected = brute.topk(brute.bool_query(
        bix, must=[brute.match(bix, "def")],
        should=[brute.match(bix, "return"), brute.phrase(bix, "import numpy")],
        must_not=[brute.match(bix, "lambda")]), 10)
    assert brute.rank_identical(got, expected, ATOL)


def test_count_fast_path_matches_exhaustive(setup):
    engine, _ = setup
    for dsl in (
        {"match": {"content": "def"}},
        {"match": {"content": "def return import"}},
        {"match": {"content": {"query": "def return", "operator": "and"}}},
        {"match": {"content": {"query": "def return import",
                               "minimum_should_match": 2}}},
    ):
        from opensearch_spark.search import dsl as dsl_mod

        node = dsl_mod.parse(dsl)
        assert engine.count(dsl) == engine.compile(node).count()


# ---- driver-local tier: equal to the Spark plan, case by case ----------

TIER_QUERIES = [
    {"match": {"content": "def return import"}},
    {"match": {"content": {"query": "def return", "operator": "and"}}},
    {"match_phrase": {"content": "return self"}},
    {"bool": {"must": [{"match": {"content": "def"}}],
              "should": [{"match": {"content": "import"}}],
              "must_not": [{"match": {"content": "class"}}]}},
]


def both_paths(engine, tier, q, k=K):
    """(driver-local top-k, Spark top-k) of one query; asserts the tier
    really answered when forced on."""
    out = []
    for on in (True, False):
        tier(on)
        assert (engine._search(q, k)[1] is not None) == on, q
        out.append(run(engine, q, k))
    return out


def _fresh_index(spark, root):
    corpus = spark.createDataFrame(generate_corpus(300, seed=5))
    build_index(spark, corpus, root, n_segments=4)
    return corpus


def test_tier_tombstones_overfetch(spark, tmp_path, tier):
    """Deleting the current top hits (they fill each segment's top-k)
    must not leave the driver-local tier short: it over-fetches by the
    tombstone count like the Spark plan."""
    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    eng = SearchEngine(spark, root, corpus=corpus)
    q = {"match": {"content": "def return"}}
    full, off = both_paths(eng, tier, q, k=100)
    assert full == off and len(full) == 100
    # the 40 best hits hold every segment's top 10 or nearly so
    victims = {d for d, _ in full[:40]}
    eng.delete(sorted(victims))
    for dsl in [q] + TIER_QUERIES:
        on, off = both_paths(eng, tier, dsl)
        assert on == off, dsl
        assert not victims & {d for d, _ in on}
    on, _ = both_paths(eng, tier, q)
    assert on == [h for h in full if h[0] not in victims][:K]


def test_tier_multi_generation_index(spark, tmp_path, tier):
    """After add_batch and before compaction: two generations per term."""
    from opensearch_spark.index.incremental import add_batch

    pdf = generate_corpus(400, seed=8)
    root = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pdf.iloc[:250]), root,
                n_segments=4)
    add_batch(spark, spark.createDataFrame(pdf.iloc[250:]), root)
    eng = SearchEngine(spark, root, corpus=spark.createDataFrame(pdf))
    for dsl in TIER_QUERIES:
        on, off = both_paths(eng, tier, dsl)
        assert on == off and on, dsl


def test_tier_pit_reader_after_compaction(spark, tmp_path, tier):
    """A PIT reader's tier reads the PIT's pinned files, which survive
    compact_index; the live index's new files are not read."""
    from opensearch_spark.index.incremental import compact_index

    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    live = SearchEngine(spark, root, corpus=corpus)
    live.delete([int(r["docId"]) for r in live.search(TIER_QUERIES[0], k=3).collect()])
    before = {json.dumps(q): both_paths(live, tier, q)[0] for q in TIER_QUERIES}
    pit = live.open_pit()
    compact_index(spark, root, target_segments=2)
    pinned = SearchEngine(spark, root, corpus=corpus, pit=pit)
    for dsl in TIER_QUERIES:
        on, off = both_paths(pinned, tier, dsl)
        assert on == off == before[json.dumps(dsl)], dsl
    live.close_pit(pit)


def test_tier_multi_field_engine_other_field(spark, tmp_path, tier):
    """A query on a MultiFieldEngine's non-primary field is not the
    engine's own field: it keeps the Spark plan, with equal results."""
    from opensearch_spark.search.engine import MultiFieldEngine

    pdf = generate_corpus(300, seed=3)
    corpus = spark.createDataFrame(pdf)
    dirs = {"content": str(tmp_path / "content"), "path": str(tmp_path / "path")}
    for field, d in dirs.items():
        build_index(spark, corpus, d, text_col=field, n_segments=4)
    eng = MultiFieldEngine(spark, dirs, corpus=corpus)
    q = {"match": {"path": "src pkg1"}}
    got = {}
    for on in (True, False):
        tier(on)
        df, local = eng._search(q, K)
        assert local is None
        got[on] = [(int(r["docId"]), float(r["score"])) for r in df.collect()]
    assert got[True] == got[False] and got[True]
    on, off = both_paths(eng, tier, TIER_QUERIES[0])
    assert on == off


def test_tier_stale_reader_raises(spark, tmp_path, tier):
    """An engine opened before compact_index must not serve a silent
    answer from files that are gone: the tier says the index changed."""
    from opensearch_spark.index.incremental import compact_index
    from opensearch_spark.search.engine import StaleIndexError

    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    eng = SearchEngine(spark, root, corpus=corpus)
    tier(True)
    assert eng.search(TIER_QUERIES[0], k=K).collect()
    compact_index(spark, root)
    with pytest.raises(StaleIndexError, match="index changed since open"):
        eng.search(TIER_QUERIES[0], k=K)
    fresh = SearchEngine(spark, root, corpus=corpus)
    assert fresh.search(TIER_QUERIES[0], k=K).collect()


# ---- driver-local tier: the resident block table ------------------------

def test_tier_match_then_phrase_positions(spark, tmp_path, tier):
    """The resident table keeps decodes across requests: a match decodes
    its term's rows without positions, and a later phrase with that term
    must still get them."""
    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    eng = SearchEngine(spark, root, corpus=corpus)
    match, phrase = {"match": {"content": "return"}}, {"match_phrase": {"content": "return class"}}
    on, off = both_paths(eng, tier, match)
    assert on == off and on
    table = eng._pinned.table
    assert (table._done & (table._pos_off < 0)).any()
    on, off = both_paths(eng, tier, phrase)
    assert on == off and on
    assert eng._pinned.table is table


def test_tier_reads_each_pinned_file_once(spark, tmp_path, tier, monkeypatch):
    """One pin per engine: twenty tier requests read every postings file,
    every docstats file (for the docId uniqueness check) and every
    termstats file (the term dictionary) exactly once."""
    from collections import Counter

    import pyarrow.parquet as pq

    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    eng = SearchEngine(spark, root, corpus=corpus)
    reads = Counter()
    real = pq.read_table

    def counting(source, *a, **kw):
        reads[source] += 1
        return real(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    tier(True)
    for i in range(20):
        q = TIER_QUERIES[i % len(TIER_QUERIES)]
        if i % 2:
            assert eng._search(q, K)[1] is not None
        else:
            eng.msearch(TIER_QUERIES, k=K).collect()
    files = eng._pinned.files + eng._pinned.docstats + [
        eng.paths.table("termstats", f) for f in eng.globals["files"]["termstats"]]
    assert eng._pinned.files and reads == Counter({f: 1 for f in files})


def test_tier_profile_counts_new_decodes(spark, tmp_path, tier):
    """``profile`` of a tier request: the first one loads the resident
    table; a repeat decodes nothing new, as every row it needs is
    cached."""
    root = str(tmp_path / "ix")
    corpus = _fresh_index(spark, root)
    eng = SearchEngine(spark, root, corpus=corpus)
    tier(True)
    body = {"query": TIER_QUERIES[0], "size": K, "profile": True}
    first = eng.request(body)["profile"]["query"]
    second = eng.request(body)["profile"]["query"]
    assert first["path"] == second["path"] == "driver"
    assert first["pinned"] is True and second["pinned"] is False
    assert first["blocks_decoded"] > 0 and second["blocks_decoded"] == 0
    assert second["blocks_total"] == first["blocks_total"] > 0
    third = eng.request({**body, "query": TIER_QUERIES[2]})["profile"]["query"]
    assert third["pinned"] is False and third["blocks_decoded"] > 0


def test_close_releases_cache_and_tables(spark, tmp_path, tier):
    """close() unpersists the cache=True frames, drops the resident
    table and the driver fetch's docId map, and a closed engine refuses
    to search."""
    root = str(tmp_path / "ix")
    _fresh_index(spark, root).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    eng = SearchEngine(spark, root, corpus=corpus, cache=True)
    tier(True)
    assert eng.search(TIER_QUERIES[0], k=K).collect()
    assert eng.request({"query": TIER_QUERIES[0], "size": K,
                        "_source": ["path"]})["hits"].collect()
    assert eng._stored.ids is not None
    tier(False)
    assert eng.search(TIER_QUERIES[0], k=K).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    frames = (eng.postings, eng.docstats)
    assert all(cm.lookupCachedData(df._jdf).isDefined() for df in frames)
    assert eng._pinned.table
    eng.close()
    assert not any(cm.lookupCachedData(df._jdf).isDefined() for df in frames)
    assert eng._pinned is False and eng._stored is False
    for fn in (lambda: eng.search(TIER_QUERIES[0], k=K),
               lambda: eng.msearch(TIER_QUERIES, k=K)):
        with pytest.raises(RuntimeError, match="closed"):
            fn()
