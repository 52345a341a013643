"""Multi-index registry: aliases, wildcard resolution, cross-index
search global ordering, _mget (reference: AliasMetadata /
IndexNameExpressionResolver / TransportGetAction)."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.cluster import Cluster
from opensearch_spark.testing.corpus import generate_corpus


@pytest.fixture(scope="module")
def cluster(spark, tmp_path_factory):
    c = Cluster(spark)
    root = tmp_path_factory.mktemp("cluster")
    for i, name in enumerate(("logs-2024", "logs-2025", "metrics")):
        corpus = spark.createDataFrame(generate_corpus(120, seed=40 + i))
        c.create_index(name, corpus, str(root / name),
                       n_segments=2)
    c.put_alias("logs", "logs-2024", "logs-2025")
    return c


def test_resolution(cluster):
    assert cluster.resolve("logs") == ["logs-2024", "logs-2025"]
    assert cluster.resolve("logs-*") == ["logs-2024", "logs-2025"]
    assert cluster.resolve("metrics,logs-2024") == ["metrics", "logs-2024"]
    assert cluster.resolve("*") == sorted(cluster.engines)
    with pytest.raises(ValueError):
        cluster.resolve("nope")


def test_cross_index_search_is_global_topk(cluster):
    q = {"match": {"content": "def return"}}
    got = [(r["_index"], int(r["docId"]), round(float(r["score"]), 6))
           for r in cluster.search("logs", q, k=10).collect()]
    # manual merge of the two indexes' full results
    merged = []
    for n in ("logs-2024", "logs-2025"):
        for r in cluster.engines[n].search(q, k=1000).collect():
            merged.append((n, int(r["docId"]), round(float(r["score"]), 6)))
    merged.sort(key=lambda t: (-t[2], t[1], t[0]))
    assert got == merged[:10] and got
    # count across the alias == sum of per-index counts
    assert cluster.count("logs", q) == sum(
        cluster.engines[n].count(q) for n in ("logs-2024", "logs-2025"))


def test_mget(cluster):
    eng = cluster.engines["metrics"]
    some = int(eng.corpus.select("docId").limit(1).collect()[0][0])
    res = cluster.mget("metrics", [some, 999999999])
    assert res[0]["found"] and res[0]["_index"] == "metrics"
    assert res[0]["_source"]["docId"] == some
    assert not res[1]["found"]


def test_indices_boost(cluster):
    q = {"match": {"content": "def return"}}
    plain = [(r["_index"], int(r["docId"])) for r in
             cluster.search("logs", q, k=5).collect()]
    boosted = cluster.search("logs", q, k=5,
                             indices_boost={"logs-2024": 100.0}).collect()
    # with a 100x boost every top hit comes from logs-2024
    assert all(r["_index"] == "logs-2024" for r in boosted)
    assert plain != [(r["_index"], int(r["docId"])) for r in boosted]


def test_suggest_mode(spark, tmp_path):
    """suggest_mode missing/popular/always (reference:
    TermSuggestionBuilder.SuggestMode) on a controlled vocabulary:
    'cat' appears once, 'car' in ten docs; 'dome' and three terms one
    edit from it once, 'dotes' (two edits) in four docs."""
    from opensearch_spark.cluster import Cluster

    rows = [("r", f"p{i}", "c", "car wheel", "x") for i in range(10)]
    rows.append(("r", "pc", "c", "cat wheel", "x"))
    rows.append(("r", "pd", "c", "dome dose dote dove", "x"))
    rows += [("r", f"pt{i}", "c", "dotes", "x") for i in range(4)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string,"
        " lang string")
    c = Cluster(spark)
    eng = c.create_index("sug", corpus, str(tmp_path / "sug"),
                         n_segments=1)
    # missing (the reference default): 'cat' is in the dictionary -> []
    assert eng.suggest("cat", size=3)["cat"] == []
    # always: suggests 'car' even though 'cat' exists
    always = eng.suggest("cat", size=3, suggest_mode="always")["cat"]
    assert [s["text"] for s in always] == ["car"]
    # popular: 'car' (df 10) > 'cat' (df 1) -> suggested; the reverse
    # direction yields nothing ('cat' is rarer than 'car')
    pop = eng.suggest("cat", size=3, suggest_mode="popular")["cat"]
    assert [s["text"] for s in pop] == ["car"]
    assert eng.suggest("car", size=3, suggest_mode="popular")["car"] == []
    # popular filters before the size cut: the closer but no more
    # frequent 'dose'/'dote'/'dove' do not crowd out 'dotes'
    pop = eng.suggest("dome", size=1, suggest_mode="popular")["dome"]
    assert pop == [{"text": "dotes", "freq": 4, "distance": 2}]


def test_field_caps(cluster):
    caps = cluster.field_caps("logs")
    assert caps["content"]["searchable"] and caps["content"]["type"] == "string"
    assert caps["content"]["indices"] == ["logs-2024", "logs-2025"]
    assert not caps["lang"]["searchable"] and caps["lang"]["aggregatable"]


def test_mget_batched_first_index_wins(cluster):
    a = cluster.engines["logs-2024"]
    b = cluster.engines["logs-2025"]
    ida = int(a.corpus.select("docId").limit(1).collect()[0][0])
    idb = int(b.corpus.select("docId").orderBy("docId").limit(1).collect()[0][0])
    res = cluster.mget("logs", [ida, idb, 123456789])
    assert res[0]["found"] and res[1]["found"] and not res[2]["found"]
    assert res[0]["_id"] == ida and res[1]["_id"] == idb


def test_msearch_template(cluster):
    eng = cluster.engines["logs-2024"]
    eng.templates.put("t1", '{"query": {"match": {"{{f}}": "{{q}}"}}, "size": {{n}}}')
    out = eng.msearch_template([
        {"id": "t1", "params": {"f": "content", "q": "def return", "n": 3}},
        {"source": '{"query": {"match_phrase": {"content": "{{p}}"}}, "size": 5}',
         "params": {"p": "def main"}},
    ]).collect()
    by_qid = {}
    for r in out:
        by_qid.setdefault(int(r["qid"]), []).append(r)
    assert len(by_qid[0]) <= 3
    # qid 0 == direct search results
    direct = [(int(r["docId"]), round(float(r["score"]), 6))
              for r in eng.search({"match": {"content": "def return"}}, k=3).collect()]
    got = [(int(r["docId"]), round(float(r["score"]), 6)) for r in by_qid[0]]
    assert got == direct


def test_alias_index_name_collisions_rejected(cluster):
    with pytest.raises(ValueError):
        cluster.put_alias("metrics", "logs-2024")  # alias == index name
    with pytest.raises(ValueError):
        cluster.register("logs", object())  # index == existing alias


def test_geo_query_options_and_units(cluster):
    """Standard optional keys must not confuse the geo field detection;
    distance units dispatch longest-suffix-first."""
    from opensearch_spark.search import dsl as dsl_mod

    n = dsl_mod.parse({"geo_distance": {
        "distance": "2nmi", "distance_type": "arc",
        "validation_method": "STRICT", "_name": "x",
        "location": {"lat": 1.0, "lon": 2.0}}})
    assert n.field_name == "location"
    assert abs(n.distance_m - 2 * 1852.0) < 1e-9
    assert abs(dsl_mod.parse_distance_m("50cm") - 0.5) < 1e-12
    assert abs(dsl_mod.parse_distance_m("3mi") - 3 * 1609.344) < 1e-9
    b = dsl_mod.parse({"geo_bounding_box": {
        "type": "indexed", "ignore_unmapped": True,
        "location": {"top_left": [2.0, 1.0],
                     "bottom_right": "0.5,3.0"}}})
    assert (b.top, b.left, b.bottom, b.right) == (1.0, 2.0, 0.5, 3.0)


def test_data_streams_and_templates(spark, tmp_path):
    """Data streams (cluster/metadata/DataStream.java): writes roll into
    generation-numbered backing indexes, reads fan out over all;
    composable index templates supply build defaults by pattern."""
    from opensearch_spark.testing.corpus import generate_corpus

    c = Cluster(spark)
    c.put_index_template("ds-template", {
        "index_patterns": [".ds-events-*"], "priority": 10,
        "template": {"n_segments": 2}})
    c.create_data_stream("events")
    b1 = spark.createDataFrame(generate_corpus(80, seed=60))
    b2 = spark.createDataFrame(generate_corpus(80, seed=61))
    c.data_stream_write("events", b1, str(tmp_path / "g1"))
    c.data_stream_write("events", b2, str(tmp_path / "g2"))
    st = c.data_streams_stats("events")
    assert st["generations"] == 2
    assert st["write_index"] == ".ds-events-000002"
    # a couple of generated docs are empty and never indexed
    assert st["doc_count"] == sum(
        c.engines[b].doc_count for b in st["backing_indices"])
    assert 150 <= st["doc_count"] <= 160
    # reads resolve to every generation
    assert c.resolve("events") == [".ds-events-000001", ".ds-events-000002"]
    hits = c.search("events", {"match": {"content": "def return"}}, k=5)
    assert hits.count() == 5
    # template default applied (2 segments -> seg ids 0..1)
    eng = c.engines[".ds-events-000001"]
    assert eng.postings.select("seg").distinct().count() <= 2
    c.delete_data_stream("events")
    assert "events" not in c.data_streams
    with pytest.raises(ValueError):
        c.resolve("events")


def test_shrink_and_clone(spark, tmp_path):
    from opensearch_spark.testing.corpus import generate_corpus

    c = Cluster(spark)
    corpus = spark.createDataFrame(generate_corpus(100, seed=62))
    c.create_index("src", corpus, str(tmp_path / "src"),
                   n_segments=4)
    q = {"match": {"content": "def return"}}
    want = [(int(r["docId"]), round(float(r["score"]), 6))
            for r in c.engines["src"].search(q, k=10).collect()]
    shr = c.shrink_index("src", "small", str(tmp_path / "small"),
                         target_segments=1)
    assert shr.postings.select("seg").distinct().count() == 1
    got = [(int(r["docId"]), round(float(r["score"]), 6))
           for r in shr.search(q, k=10).collect()]
    assert got == want    # same docs, same scores, fewer segments
    cl = c.clone_index("src", "copy")
    got2 = [(int(r["docId"]), round(float(r["score"]), 6))
            for r in cl.search(q, k=10).collect()]
    assert got2 == want


def test_data_stream_collisions_and_wildcards(spark, tmp_path):
    from opensearch_spark.testing.corpus import generate_corpus

    c = Cluster(spark)
    c.create_data_stream("events")
    b = spark.createDataFrame(generate_corpus(40, seed=63))
    c.data_stream_write("events", b, str(tmp_path / "g1"),
                        n_segments=2)
    # name collisions are rejected in BOTH directions
    with pytest.raises(ValueError):
        c.create_index("events", b, str(tmp_path / "clash"))
    with pytest.raises(ValueError):
        c.put_alias("events", ".ds-events-000001")
    # wildcards expand over data streams to their backing indices
    assert c.resolve("event*") == [".ds-events-000001"]


def test_clone_preserves_doc_id_scheme(spark, tmp_path):
    from pyspark.sql import functions as F
    from opensearch_spark.testing.corpus import generate_corpus

    c = Cluster(spark)
    corpus = spark.createDataFrame(generate_corpus(50, seed=64)).withColumn(
        "doc_id", F.monotonically_increasing_id())
    c.create_index("src", corpus, str(tmp_path / "src"),
                   n_segments=2, doc_id_col="doc_id")
    cl = c.clone_index("src", "copy")
    did = int(corpus.limit(1).collect()[0]["doc_id"])
    # the clone resolves documents by the SAME id scheme as the source
    assert cl.get(did)["found"] is True
