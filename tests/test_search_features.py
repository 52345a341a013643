"""Search-phase features: collapse, rescore, scroll, terminate_after,
explain, soft deletes (+ purge on compaction).

Reference semantics: CollapseBuilder.java:64 (top-1 per group),
QueryRescorer.java:58 (windowed re-rank), Scroll.java:51 (snapshot
cursor), EarlyTerminatingCollector (terminate_after), soft deletes /
liveDocs, TieredMergePolicy merges reclaiming deleted docs.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus


@pytest.fixture()
def eng(spark, tmp_path):
    pdf = generate_corpus(400, seed=5)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "index")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus, cache=True)


Q = {"match": {"content": "def return import"}}


def rows(df):
    return [(int(r["docId"]), round(float(r["score"]), 6)) for r in df.collect()]


def test_collapse_top1_per_group(eng):
    hits = eng.search(Q, k=10, collapse="lang").collect()
    langs = [r["lang"] for r in hits]
    assert len(langs) == len(set(langs)) and len(hits) > 1
    # each collapsed hit is the best-scoring doc of its lang
    full = eng.search(Q, k=10000).collect()
    full_j = {
        int(r["docId"]): float(r["score"]) for r in full
    }
    lang_of = {
        int(r["docId"]): r["lang"]
        for r in eng.corpus.select("docId", "lang").collect()
    }
    best = {}
    for d, s in full_j.items():
        lg = lang_of[d]
        if lg not in best or (s, -d) > (best[lg][1], -best[lg][0]):
            best[lg] = (d, s)
    for r in hits:
        assert int(r["docId"]) == best[r["lang"]][0]


def test_rescore_reranks_window(eng):
    primary = rows(eng.search(Q, k=20))
    rescored = rows(eng.rescore(
        Q, {"match_phrase": {"content": "def main"}},
        k=10, window_size=20, query_weight=1.0, rescore_query_weight=2.0,
    ))
    assert len(rescored) == 10
    # every rescored doc came from the primary window
    window_ids = {d for d, _ in primary}
    assert all(d in window_ids for d, _ in rescored)
    # scores are monotonically non-increasing
    scores = [s for _, s in rescored]
    assert scores == sorted(scores, reverse=True)


def test_scroll_is_exhaustive_and_disjoint(eng):
    batches = list(eng.scroll(Q, batch_size=50))
    seen = [int(r["docId"]) for b in batches for r in b]
    assert len(seen) == len(set(seen))
    total = eng.count(Q)
    assert len(seen) == total
    # batches sorted by (score desc, docId asc) across the whole scroll
    flat = [(float(r["score"]), int(r["docId"])) for b in batches for r in b]
    assert flat == sorted(flat, key=lambda x: (-x[0], x[1]))


def test_terminate_after_bounds_work(eng):
    # per-SEGMENT early termination in docId order (deterministic):
    # each segment contributes its N smallest matching docIds
    full = {int(r["docId"])
            for r in eng.search(Q, k=10000).collect()}
    got = [int(r["docId"])
           for r in eng.search(Q, k=10000, terminate_after=7).collect()]
    n_segs = eng.docstats.select("seg").distinct().count()
    assert 0 < len(got) <= 7 * n_segs
    assert set(got) <= full
    seg_of = {int(r["docId"]): int(r["seg"])
              for r in eng.docstats.select("docId", "seg").collect()}
    per_seg: dict = {}
    for d in sorted(full):
        per_seg.setdefault(seg_of[d], []).append(d)
    expect = {d for ds in per_seg.values() for d in ds[:7]}
    assert set(got) == expect
    # deterministic across runs
    again = [int(r["docId"])
             for r in eng.search(Q, k=10000, terminate_after=7).collect()]
    assert sorted(got) == sorted(again)


def test_explain_breakdown(eng):
    top = eng.search(Q, k=1).collect()[0]
    ex = eng.explain(Q, int(top["docId"]))
    assert ex["matched"] and abs(ex["total"] - float(top["score"])) < 1e-9
    assert ex["details"], "per-term breakdown missing"
    assert abs(sum(d["score"] for d in ex["details"]) - ex["total"]) < 1e-6
    assert all(d["idf"] > 0 and "idf * tf" in d["description"] for d in ex["details"])
    miss = eng.explain(Q, 999999999)
    assert not miss["matched"] and miss["total"] == 0.0


def test_soft_delete_and_purge(spark, tmp_path):
    pdf = generate_corpus(300, seed=9)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "delix")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus)

    before = rows(eng.search(Q, k=12))
    victims = [before[0][0], before[2][0]]
    eng.delete(victims)

    # survivors keep their exact scores and order (stats unchanged until
    # merge, matching Lucene's liveDocs semantics)
    after = rows(eng.search(Q, k=10))
    want = [x for x in before if x[0] not in victims][:10]
    assert after == want

    # msearch also filters tombstones
    ms = eng.msearch([Q], k=10).collect()
    assert not (set(int(r["docId"]) for r in ms) & set(victims))

    # a fresh engine sees the tombstones
    eng2 = SearchEngine(spark, out, corpus=corpus)
    assert not (set(d for d, _ in rows(eng2.search(Q, k=10))) & set(victims))

    # delete_by_query
    n = eng.delete_by_query({"match_phrase": {"content": "public static"}})
    assert n > 0
    assert eng.count({"match_phrase": {"content": "public static"}}) == 0

    # compaction purges tombstones and recomputes globals
    from opensearch_spark.index.incremental import compact_index

    m = compact_index(spark, out)
    eng3 = SearchEngine(spark, out, corpus=corpus)
    assert eng3.deletes is None
    assert m["doc_count"] < 300
    assert not (set(d for d, _ in rows(eng3.search(Q, k=10))) & set(victims))
    # deleted docs are physically gone from postings
    assert eng3.docstats.where(F.col("docId").isin(victims)).count() == 0


def test_request_body_api(eng):
    out = eng.request({
        "query": Q,
        "size": 5,
        "aggs": {"langs": {"terms": {"field": "lang", "size": 3}}},
        "_source": ["lang", "repo"],
        "highlight": {"fields": {"content": {"fragment_size": 60,
                                             "number_of_fragments": 1}}},
    })
    hits = out["hits"].collect()
    assert len(hits) == 5
    r0 = hits[0]
    assert "lang" in r0.asDict() and "highlights" in r0.asDict()
    assert any("<em>" in h for h in (r0["highlights"] or []))
    aggs = out["aggregations"].collect()
    assert 1 <= len(aggs) <= 3 and all(r["doc_count"] > 0 for r in aggs)
    # aggregation scope = matched docs only
    total_matched = eng.count(Q)
    assert sum(r["doc_count"] for r in aggs) <= total_matched


def test_request_sort_and_collapse(eng):
    out = eng.request({
        "query": Q, "size": 4,
        "sort": [{"path": {"order": "desc"}}],
    })
    rows_ = out["hits"].collect()
    vals = [r["path"] for r in rows_]
    assert vals == sorted(vals, reverse=True)

    out2 = eng.request({"query": Q, "size": 10, "collapse": {"field": "lang"}})
    langs = [r["lang"] for r in out2["hits"].collect()]
    assert len(langs) == len(set(langs))


def test_request_rescore(eng):
    out = eng.request({
        "query": Q, "size": 5,
        "rescore": {"window_size": 20, "query": {
            "rescore_query": {"match_phrase": {"content": "def main"}},
            "query_weight": 1.0, "rescore_query_weight": 2.0,
        }},
    })
    assert len(out["hits"].collect()) == 5


def test_term_suggester(eng):
    sug = eng.suggest("retrun clas", size=3, max_edits=2)
    assert "retrun" in sug and "clas" in sug
    texts = [s["text"] for s in sug["retrun"]]
    assert "return" in texts
    texts2 = [s["text"] for s in sug["clas"]]
    assert "class" in texts2
    # ordering: distance asc, then freq desc
    for lst in sug.values():
        ds = [s["distance"] for s in lst]
        assert ds == sorted(ds)
    # a term already in the dictionary suggests alternatives, not itself
    sug2 = eng.suggest("return", size=3)
    assert all(s["text"] != "return" for s in sug2["return"])


def test_request_derived_fields(eng):
    out = eng.request({
        "query": Q, "size": 3,
        "_source": ["lang"],
        "derived": {"is_python": {"script": "lang = 'python'"},
                    "len_chars": "length(content)"},
    })
    rows_ = out["hits"].collect()
    assert len(rows_) == 3
    for r in rows_:
        assert r["is_python"] == (r["lang"] == "python")
        assert isinstance(r["len_chars"], int) and r["len_chars"] > 0


def test_docvalue_fields_and_track_total_hits(eng):
    out = eng.request({
        "query": Q,
        "size": 3,
        "docvalue_fields": [{"field": "lang", "format": None} if False else "lang"],
        "track_total_hits": True,
    })
    rows = out["hits"].collect()
    assert rows and "lang_value" in out["hits"].columns
    from opensearch_spark.search import dsl as dsl_mod

    exact = eng.compile(dsl_mod.parse(Q)).count()
    assert out["total"] == {"value": exact, "relation": "eq"}
    capped = eng.request({"query": Q, "size": 1, "track_total_hits": 1})
    assert capped["total"]["relation"] in ("eq", "gte")
    assert capped["total"]["value"] <= exact


def test_collapse_inner_hits(eng):
    """collapse inner_hits (CollapseBuilder): top hit per group plus the
    group's top-N members as a nested array, rank-ordered."""
    out = eng.request({
        "query": Q, "size": 5,
        "collapse": {"field": "lang", "inner_hits": {"size": 3}},
    })
    rows_ = out["hits"].collect()
    assert rows_
    langs = [r["lang"] for r in rows_]
    assert len(langs) == len(set(langs))  # one hit per group
    full = eng.search(Q, k=10000).collect()
    by_doc = {int(r["docId"]): float(r["score"]) for r in full}
    for r in rows_:
        ih = r["inner_hits"]
        assert 1 <= len(ih) <= 3
        scores = [float(x["score"]) for x in ih]
        assert scores == sorted(scores, reverse=True)
        # the collapsed main hit is the group's best == first inner hit
        assert int(ih[0]["docId"]) == int(r["docId"])
        for x in ih:
            assert abs(by_doc[int(x["docId"])] - float(x["score"])) < 1e-9


def test_multi_field_highlight(eng):
    out = eng.request({
        "query": Q, "size": 3,
        "_source": ["lang"],
        "highlight": {"fields": {"content": {"fragment_size": 60},
                                 "lang": {}}},
    })
    cols = out["hits"].columns
    assert "highlights_content" in cols and "highlights_lang" in cols
    r = out["hits"].collect()[0]
    assert any("<em>" in f for f in r["highlights_content"])


def test_collapse_with_source_fetch(eng):
    """collapse + _source/docvalue fetch must not duplicate the collapse
    column (the fetch join restores corpus columns; hits carry only
    identity + computed columns)."""
    out = eng.request({
        "query": Q, "size": 4,
        "collapse": {"field": "lang", "inner_hits": {"size": 2}},
        "_source": ["lang"],
        "docvalue_fields": ["path"],
    })
    cols = out["hits"].columns
    assert cols.count("lang") == 1
    rows_ = out["hits"].collect()
    assert rows_ and all(r["inner_hits"] for r in rows_)
    assert "path_value" in cols


def test_docvalue_fields_exempt_from_source_excludes(eng):
    """Explicitly-requested docvalue/derived fields are returned even
    when a _source exclude pattern matches them (the reference returns
    them in a separate 'fields' section outside _source filtering)."""
    out = eng.request({
        "query": Q, "size": 2,
        "_source": {"includes": ["lang*"], "excludes": ["*_value", "lang2*"]},
        "docvalue_fields": ["path"],
        "derived": {"lang_upper": "upper(lang)"},
    })
    cols = out["hits"].columns
    assert "path_value" in cols and "lang_upper" in cols
    assert "lang" in cols and "repo" not in cols


def test_geo_bbox_dateline_wrap(spark, tmp_path):
    """left > right = box crosses the antimeridian (reference
    GeoBoundingBoxQueryBuilder wrap semantics)."""
    corpus = spark.createDataFrame(generate_corpus(200, seed=9))
    out = str(tmp_path / "geoix")
    build_index(spark, corpus, out, n_segments=2)
    geo = corpus.withColumn(
        "location",
        F.struct(
            F.lit(0.0).alias("lat"),
            ((F.xxhash64("path") % 3600) / 10.0 - 180.0).alias("lon"),
        ),
    )
    e2 = SearchEngine(spark, out, corpus=geo)
    got = {int(r["docId"]) for r in e2.search({
        "geo_bounding_box": {"location": {
            "top_left": {"lat": 10.0, "lon": 170.0},
            "bottom_right": {"lat": -10.0, "lon": -170.0}}},
    }, k=1000).collect()}
    pts = {int(r["docId"]): r["location"]["lon"]
           for r in geo.withColumn("docId", F.xxhash64("repo", "path", "commit"))
           .select("docId", "location").collect()}
    want = {d for d, lon in pts.items() if lon >= 170.0 or lon <= -170.0}
    assert got == want


@pytest.fixture()
def geo_eng(spark, tmp_path):
    """Corpus with a deterministic hash-derived location column."""
    corpus = spark.createDataFrame(generate_corpus(200, seed=11))
    out = str(tmp_path / "geopix")
    build_index(spark, corpus, out, n_segments=2)
    geo = corpus.withColumn(
        "location",
        F.struct(
            ((F.xxhash64("path", F.lit(1)) % 1600) / 10.0 - 80.0).alias("lat"),
            ((F.xxhash64("path") % 3600) / 10.0 - 180.0).alias("lon"),
        ),
    )
    eng = SearchEngine(spark, out, corpus=geo)
    pts = {int(r["docId"]): (float(r["location"]["lat"]),
                             float(r["location"]["lon"]))
           for r in geo.withColumn(
               "docId", F.xxhash64("repo", "path", "commit")
           ).select("docId", "location").collect()}
    return eng, pts


def _py_in_polygon(lat, lon, poly):
    """Independent even-odd ray casting oracle (plain Python)."""
    inside = False
    for i in range(len(poly)):
        lat_i, lon_i = poly[i]
        lat_j, lon_j = poly[i - 1]
        if lat_i == lat_j:
            continue
        if ((lat_i > lat) != (lat_j > lat)) and (
            lon < (lon_j - lon_i) * (lat - lat_i) / (lat_j - lat_i) + lon_i
        ):
            inside = not inside
    return inside


POLY = [(0.0, -60.0), (55.0, -10.0), (10.0, 70.0), (-45.0, 20.0),
        (-20.0, -50.0)]


def test_geo_polygon_matches_ray_casting_oracle(geo_eng):
    eng, pts = geo_eng
    got = {int(r["docId"]) for r in eng.search({
        "geo_polygon": {"location": {
            "points": [{"lat": la, "lon": lo} for la, lo in POLY]}},
    }, k=10000).collect()}
    want = {d for d, (la, lo) in pts.items() if _py_in_polygon(la, lo, POLY)}
    assert got == want and 0 < len(want) < len(pts)


def test_geo_polygon_accepts_closed_ring_and_geojson_order(geo_eng):
    eng, _ = geo_eng
    ring = [[lo, la] for la, lo in POLY] + [[POLY[0][1], POLY[0][0]]]
    a = {int(r["docId"]) for r in eng.search({
        "geo_polygon": {"location": {"points": ring}}}, k=10000).collect()}
    b = {int(r["docId"]) for r in eng.search({
        "geo_polygon": {"location": {
            "points": [{"lat": la, "lon": lo} for la, lo in POLY]}},
    }, k=10000).collect()}
    assert a == b


def test_geo_shape_envelope_equals_bbox(geo_eng):
    eng, pts = geo_eng
    got = {int(r["docId"]) for r in eng.search({
        "geo_shape": {"location": {
            "shape": {"type": "envelope",
                      "coordinates": [[-30.0, 40.0], [60.0, -25.0]]},
            "relation": "intersects"}},
    }, k=10000).collect()}
    want = {d for d, (la, lo) in pts.items()
            if -25.0 <= la <= 40.0 and -30.0 <= lo <= 60.0}
    assert got == want and want


def test_geo_shape_polygon_and_disjoint_partition_corpus(geo_eng):
    eng, pts = geo_eng
    ring = [[lo, la] for la, lo in POLY] + [[POLY[0][1], POLY[0][0]]]
    inside = {int(r["docId"]) for r in eng.search({
        "geo_shape": {"location": {
            "shape": {"type": "polygon", "coordinates": [ring]},
            "relation": "within"}},
    }, k=10000).collect()}
    outside = {int(r["docId"]) for r in eng.search({
        "geo_shape": {"location": {
            "shape": {"type": "polygon", "coordinates": [ring]},
            "relation": "disjoint"}},
    }, k=10000).collect()}
    assert inside and outside
    assert inside | outside == set(pts) and not (inside & outside)


def test_geo_shape_circle_equals_geo_distance(geo_eng):
    eng, _ = geo_eng
    a = {int(r["docId"]) for r in eng.search({
        "geo_shape": {"location": {
            "shape": {"type": "circle", "coordinates": [10.0, 20.0],
                      "radius": "3000km"}}}}, k=10000).collect()}
    b = {int(r["docId"]) for r in eng.search({
        "geo_distance": {"distance": "3000km",
                         "location": {"lat": 20.0, "lon": 10.0}},
    }, k=10000).collect()}
    assert a == b and a


def test_script_score_query_replaces_score(eng):
    """Top-level script_score query (reference ScriptScoreQueryBuilder):
    the script value REPLACES the BM25 score; `_score` is available."""
    got = eng.search({
        "script_score": {
            "query": Q,
            "script": {"source": "0.5 * _score + length(content) / 1000.0"},
        },
    }, k=20).collect()
    base = {int(r["docId"]): float(r["score"])
            for r in eng.search(Q, k=10000).collect()}
    nchars = {int(r["docId"]): int(r["n"])
              for r in eng.corpus.select(
                  "docId", F.length("content").alias("n")).collect()}
    assert got
    for r in got:
        d = int(r["docId"])
        want = 0.5 * base[d] + nchars[d] / 1000.0
        assert abs(float(r["score"]) - want) < 1e-9


def test_script_score_min_score_filters(eng):
    full = eng.search({
        "script_score": {"query": Q, "script": {"source": "_score"}},
    }, k=10000).collect()
    scores = sorted((float(r["score"]) for r in full), reverse=True)
    cut = scores[len(scores) // 2]
    kept = eng.search({
        "script_score": {"query": Q, "script": {"source": "_score"},
                         "min_score": cut},
    }, k=10000).collect()
    assert kept and all(float(r["score"]) >= cut for r in kept)
    assert len(kept) == sum(1 for s in scores if s >= cut)


def test_field_masking_span_delegates_to_inner(eng):
    inner = {"span_near": {"clauses": [
        {"span_term": {"content": "def"}},
        {"span_term": {"content": "return"}},
    ], "slop": 8, "in_order": False}}
    a = rows(eng.search({"field_masking_span": {
        "query": inner, "field": "content"}}, k=50))
    b = rows(eng.search(inner, k=50))
    assert a == b and a


def test_field_masking_span_nested_inside_span_near(eng):
    """The mask's primary use is INSIDE span_near clauses (reference
    FieldMaskingSpanQueryBuilder); nesting must parse, not raise."""
    masked = {"span_near": {"clauses": [
        {"span_term": {"content": "def"}},
        {"field_masking_span": {
            "query": {"span_term": {"content": "return"}},
            "field": "content"}},
    ], "slop": 8, "in_order": False}}
    plain = {"span_near": {"clauses": [
        {"span_term": {"content": "def"}},
        {"span_term": {"content": "return"}},
    ], "slop": 8, "in_order": False}}
    a = rows(eng.search(masked, k=50))
    b = rows(eng.search(plain, k=50))
    assert a == b and a


HOLE = [(-30.0, -40.0), (40.0, -10.0), (-30.0, 40.0)]  # overlaps POLY


def test_geo_shape_polygon_with_hole(geo_eng):
    """GeoJSON interior rings are holes: points inside a hole do NOT
    match (outer ring minus every hole)."""
    eng, pts = geo_eng
    outer = [[lo, la] for la, lo in POLY] + [[POLY[0][1], POLY[0][0]]]
    hole = [[lo, la] for la, lo in HOLE] + [[HOLE[0][1], HOLE[0][0]]]
    got = {int(r["docId"]) for r in eng.search({
        "geo_shape": {"location": {
            "shape": {"type": "polygon", "coordinates": [outer, hole]},
            "relation": "within"}},
    }, k=10000).collect()}
    want = {d for d, (la, lo) in pts.items()
            if _py_in_polygon(la, lo, POLY)
            and not _py_in_polygon(la, lo, HOLE)}
    in_hole = {d for d, (la, lo) in pts.items()
               if _py_in_polygon(la, lo, HOLE)}
    assert got == want and want and in_hole  # hole is non-trivial
    assert not (got & in_hole)


def test_geo_shape_degenerate_ring_raises(geo_eng):
    eng, _ = geo_eng
    with pytest.raises(ValueError, match="3 distinct"):
        eng.search({"geo_shape": {"location": {
            "shape": {"type": "polygon",
                      "coordinates": [[[0.0, 0.0], [10.0, 10.0],
                                       [0.0, 0.0]]]}}}}, k=10)


def test_geo_shape_disjoint_requires_field_and_boost_parses():
    """disjoint anchors on field existence (reference GeoShapeQueryBuilder
    never matches docs without an indexed value) and query-level boost
    propagates like the sibling geo parsers."""
    from opensearch_spark.search import ast as A
    from opensearch_spark.search.dsl import parse

    node = parse({"geo_shape": {"location": {
        "shape": {"type": "envelope",
                  "coordinates": [[-30.0, 40.0], [60.0, -25.0]]},
        "relation": "disjoint"}, "boost": 3.0}})
    assert isinstance(node, A.Bool)
    assert [type(m) for m in node.must] == [A.Exists, A.Exists]
    assert {m.field_name for m in node.must} == {"location.lat",
                                                "location.lon"}
    assert len(node.must_not) == 1 and node.boost == 3.0
    inner = parse({"geo_shape": {"location": {
        "shape": {"type": "circle", "coordinates": [10.0, 20.0],
                  "radius": "5km"}}, "boost": 2.5}})
    assert inner.boost == 2.5


def test_termvectors_and_mtermvectors(eng):
    """_termvectors re-analyzes the stored source (reference:
    TermVectorsService.java:73 when vectors aren't indexed) — tf,
    positions, offsets per term, df/ttf from the term dictionary."""
    from pyspark.sql import functions as F
    row = (eng.corpus.select("docId", eng.text_field)
           .where(F.length(F.col(eng.text_field)) > 20)
           .orderBy("docId").limit(1).collect()[0])
    did, text = int(row[0]), row[1]
    tv = eng.termvectors(did, term_statistics=True)
    assert tv["found"] and tv["_id"] == did
    toks = eng.analyze(text or "")
    assert sum(e["term_freq"] for e in tv["terms"].values()) == len(toks)
    some = toks[0]
    e = tv["terms"][some["token"]]
    assert some["position"] in [t["position"] for t in e["tokens"]]
    assert all("doc_freq" in v and v["doc_freq"] >= 1
               for v in tv["terms"].values())
    fs = tv["field_statistics"]
    assert fs["doc_count"] == eng.doc_count
    assert fs["sum_ttf"] >= fs["sum_doc_freq"] > 0
    assert eng.termvectors(10_000_000)["found"] is False
    mtv = eng.mtermvectors([did, 10_000_000], term_statistics=True)
    assert mtv[0]["terms"] == tv["terms"]
    assert mtv[1]["found"] is False


def test_request_profile(eng, spark_path):
    """profile:true returns the executed physical plan per phase — the
    Spark analog of the reference's search/profile breakdown."""
    res = eng.request({
        "query": {"match": {"content": "def return"}},
        "size": 5, "profile": True,
        "aggs": {"l": {"terms": {"field": "lang", "size": 3}}},
    })
    prof = res["profile"]
    assert "Match" in prof["query"]["parsed"]
    assert len(prof["query"]["plan"]) > 50
    assert "plan" in prof["aggregations"]


def test_pipeline_registry(eng):
    from opensearch_spark.search.pipeline import PipelineRegistry

    reg = PipelineRegistry()
    reg.put("strict", {"request_processors": [
        {"filter_query": {"query": {"exists": {"field": "lang"}}}}]})
    assert reg.ids() == ["strict"]
    out = reg.run(eng, {"query": {"match": {"content": "def return"}},
                        "size": 5}, pipeline="strict")
    assert out["hits"].count() == 5
    reg.default = "strict"
    out2 = reg.run(eng, {"query": {"match": {"content": "def return"}},
                         "size": 5})
    assert out2["hits"].count() == 5
    reg.delete("strict")
    assert reg.default is None
    import pytest as _pytest
    with _pytest.raises(ValueError):
        reg.get("strict")


def test_single_doc_get_and_update(spark, tmp_path):
    from pyspark.sql import functions as F
    from opensearch_spark.index.build import build_index
    from opensearch_spark.testing.corpus import generate_corpus

    pdf = generate_corpus(60, seed=77)
    corpus = spark.createDataFrame(pdf).withColumn(
        "doc_id", F.monotonically_increasing_id())
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=2,
                doc_id_col="doc_id")
    eng = SearchEngine(spark, out, corpus=corpus, doc_id_col="doc_id")
    row = corpus.where(F.length("content") > 20).limit(1).collect()[0]
    did = int(row["doc_id"])
    g = eng.get(did)
    assert g["found"] and g["_source"]["content"] == row["content"]
    assert eng.get_source(did)["content"] == row["content"]
    assert eng.get(99_999_999)["found"] is False
    # partial-doc merge update, visible to a re-opened engine
    res = eng.update(did, doc={"content": "updated text zzqx"})
    assert res["result"] == "updated"
    corpus2 = corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == did, "updated text zzqx")
        .otherwise(F.col("content")))
    eng2 = SearchEngine(spark, out, corpus=corpus2, doc_id_col="doc_id")
    hits = [int(r["docId"]) for r in
            eng2.search({"match": {"content": "zzqx"}}, k=5).collect()]
    assert hits == [did]


def test_update_null_field_and_id_change_guard(spark, tmp_path):
    from pyspark.sql import functions as F
    from opensearch_spark.index.build import build_index
    from opensearch_spark.testing.corpus import generate_corpus

    corpus = spark.createDataFrame(generate_corpus(40, seed=78)).withColumn(
        "lang", F.when(F.col("path").contains("a"), F.col("lang")))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    row = eng.corpus.where(F.col("lang").isNull()) \
                    .where(F.length("content") > 10).limit(1).collect()
    if row:  # a doc with a NULL field updates fine (explicit schema)
        did = int(row[0]["docId"])
        res = eng.update(did, doc={"content": "patched body qqzz"})
        assert res["result"] == "updated"
    # changing an id-derived field is rejected (would re-key the doc)
    any_doc = int(eng.corpus.limit(1).collect()[0]["docId"])
    with pytest.raises(ValueError):
        eng.update(any_doc, doc={"path": "somewhere/else"})


def test_match_only_text_docs_index(spark, tmp_path, tier):
    """index_options='docs' (match_only_text): postings store one
    occurrence per (doc, term) (max_tf == 1 everywhere), match scores
    are idf-only (tf/doc-length invariant) on the driver tier and on
    the Spark plan, and phrases re-verify against the source."""
    import os
    from pyspark.sql import functions as F
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.engine import SearchEngine

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha alpha beta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "beta alpha"),
         (4, "gamma delta only")],
        "doc_id long, text string")
    out = str(tmp_path / "mot")
    build_index(spark, docs, out, text_col="text", doc_id_col="doc_id",
                n_segments=2, index_options="docs")
    post = spark.read.parquet(os.path.join(out, "postings"))
    assert post.agg(F.max("max_tf")).collect()[0][0] == 1
    eng = SearchEngine(spark, out, corpus=docs, text_field="text",
                       doc_id_col="doc_id")
    ex = eng.explain({"match": {"text": "alpha"}}, 1)["details"]
    assert "idf" not in ex[0] and "match_only_idf(" in ex[0]["description"]
    for on in (True, False):
        tier(on)
        got = {r["docId"]: r["score"]
               for r in eng.search({"match": {"text": "alpha"}}, k=10).collect()}
        prof = eng.request({"query": {"match": {"text": "alpha"}}, "size": 10,
                            "profile": True})["profile"]["query"]
        assert prof["path"] == ("driver" if on else "spark")
        # same idf for every matching doc, regardless of tf or length
        assert set(got) == {1, 2, 3}
        assert len({round(v, 10) for v in got.values()}) == 1
        # phrase via source: "beta alpha" is adjacent only in docs 1 and 3
        ph = {r["docId"] for r in eng.search(
            {"match_phrase": {"text": "beta alpha"}}, k=10).collect()}
        assert ph == {1, 3}
        with pytest.raises(ValueError):
            eng.search({"match_phrase": {"text": {"query": "beta alpha",
                                                  "slop": 1}}}, k=10)


def test_count_matches_search_total(eng):
    total = eng.count(Q)
    assert total == eng.search(Q, k=10000).count() > 0
    frame = eng.count_frame(Q)
    assert frame.columns == ["total"]
    assert int(frame.collect()[0]["total"]) == total


def test_mget_point_lookup_and_deletes(spark, tmp_path):
    pdf = generate_corpus(200, seed=11)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "mgetix")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus)
    ids = sorted(int(r["docId"])
                 for r in eng.docstats.select("docId").limit(4).collect())
    got = eng.mget(ids + [123], source_includes=["lang"]).collect()
    # unknown ids produce no row; source filtering applies
    assert {int(r["docId"]) for r in got} == set(ids)
    assert set(got[0].asDict()) == {"docId", "lang"}
    # deleted docs drop out of mget (the live filter)
    eng.delete(ids[:1])
    left = {int(r["docId"]) for r in eng.mget(ids).collect()}
    assert left == set(ids[1:])
