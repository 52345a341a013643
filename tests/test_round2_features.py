"""Round-2 feature tests: slice, PIT, phrase suggester, scripted
similarity, upsert, dedup skew guard."""

import math
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

Q = {"match": {"content": "def return"}}


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    corpus = spark.createDataFrame(generate_corpus(300, seed=17))
    out = str(tmp_path_factory.mktemp("r2") / "ix")
    build_index(spark, corpus, out, n_segments=4)
    return out, corpus


@pytest.fixture(scope="module")
def eng(spark, ix):
    out, corpus = ix
    return SearchEngine(spark, out, corpus=corpus)


def ids(rows):
    return sorted(int(r["docId"]) for r in rows)


def test_slice_union_equals_full_scroll(eng):
    """Parallel sliced scrolls (SliceBuilder.java:82) partition the
    matching docs: disjoint slices, union == the unsliced result."""
    full = []
    for batch in eng.scroll(Q, batch_size=50):
        full.extend(batch)
    sliced = []
    per_slice = []
    M = 3
    for i in range(M):
        part = []
        for batch in eng.scroll(Q, batch_size=50, slice_={"id": i, "max": M}):
            part.extend(batch)
        per_slice.append(set(ids(part)))
        sliced.extend(part)
    assert ids(sliced) == ids(full)
    for i in range(M):
        for j in range(i + 1, M):
            assert not (per_slice[i] & per_slice[j])


def test_slice_rejects_bad_id(eng):
    with pytest.raises(ValueError):
        eng.search(Q, k=5, slice_={"id": 3, "max": 3}).collect()


def test_pit_pins_snapshot(spark, ix):
    out, corpus = ix
    live = SearchEngine(spark, out, corpus=corpus)
    pit = live.open_pit()
    before = [(int(r["docId"]), round(float(r["score"]), 6))
              for r in live.search(Q, k=10).collect()]
    victims = [before[0][0], before[1][0]]
    live.delete(victims)
    # live engine no longer returns victims
    after_live = ids(live.search(Q, k=10).collect())
    assert not (set(victims) & set(after_live))
    # PIT reader still sees the pre-delete snapshot
    pinned = SearchEngine(spark, out, corpus=corpus, pit=pit)
    pinned_rows = [(int(r["docId"]), round(float(r["score"]), 6))
                   for r in pinned.search(Q, k=10).collect()]
    assert pinned_rows == before
    with pytest.raises(ValueError):
        pinned.delete([before[0][0]])
    with pytest.raises(ValueError):
        pinned.delete_by_query(Q)


def test_phrase_suggester(eng):
    """Misspelled two-word phrase: the corrected phrase must rank first
    among suggestions."""
    # pick two real frequent terms from the dictionary
    m = eng._load_term_df_map()
    t1, t2 = sorted(m, key=lambda t: (-m[t], t))[:2]
    broken = t1[:-1] + ("x" if t1[-1] != "x" else "q")
    out = eng.suggest_phrase(f"{broken} {t2}", size=5)
    assert out, "no suggestions"
    assert out[0]["text"].split()[0] == t1
    assert out[0]["text"].split()[1] == t2
    # input phrase itself is never suggested
    assert all(o["text"] != f"{broken} {t2}" for o in out)


@pytest.fixture
def sim():
    """A scripted similarity: TF saturation times raw idf (defined in a
    function, so Python workers receive it by value)."""
    def tf_sat_sim(tf, df, dl_q, avgdl, n):
        return tf / (tf + 1.0) * math.log(n / df)

    return tf_sat_sim


def test_scripted_similarity(spark, ix, sim):
    """similarity hook (SimilarityService.java:116): TF-saturation-only
    scorer tf/(tf+1) * ln(N/df), cross-checked in plain python; explain
    names the similarity and gives no BM25 idf."""
    out, corpus = ix
    eng = SearchEngine(spark, out, corpus=corpus, similarity=sim)
    got = {int(r["docId"]): float(r["score"])
           for r in eng.compile(
               __import__("opensearch_spark.search.dsl",
                          fromlist=["parse"]).parse(
                   {"match": {"content": "def return"}})).collect()}
    # recompute from raw tokens
    pdf = corpus.toPandas()
    from opensearch_spark.analysis.analyzer import tokenize

    n = eng.doc_count
    toks = {int(r.docId): tokenize(r.content)
            for r in corpus.withColumn(
                "docId", F.xxhash64("repo", "path", "commit")
            ).collect()}
    dfs = {t: sum(1 for tt in toks.values() if t in tt)
           for t in ("def", "return")}
    dead = (
        {int(r["docId"]) for r in eng.deletes.collect()}
        if eng.deletes is not None else set()
    )
    want = {}
    for d, tt in toks.items():
        if d in dead:
            continue
        s = 0.0
        for t in ("def", "return"):
            tf = tt.count(t)
            if tf:
                s += tf / (tf + 1.0) * math.log(n / dfs[t])
        if s > 0:
            want[d] = s
    assert set(got) == set(want)
    for d in got:
        assert abs(got[d] - want[d]) < 1e-9
    ex = eng.explain({"match": {"content": "def return"}}, max(got, key=got.get))
    assert ex["details"]
    assert all("idf" not in x and "tf_sat_sim(tf, df, dl_q, avgdl, N)" in x["description"]
               for x in ex["details"])


SIM_QUERIES = [
    {"match": {"content": "def return"}},
    {"match": {"content": {"query": "return node", "operator": "and"}}},
    {"match": {"content": {"query": "def return node class", "minimum_should_match": 2}}},
    {"bool": {"must": [{"match": {"content": "return"}}],
              "should": [{"match": {"content": "node class"}}]}},
]


@pytest.mark.parametrize("on", [True, False], ids=["driver", "spark"])
def test_scripted_similarity_on_both_paths(spark, ix, sim, tier, on):
    """A scripted similarity is a parameter of the program scorer: its
    match (or/and/msm) and bool-of-match queries take the driver tier
    and msearch batching, their search and msearch top-k equal the
    exhaustive compile's top-k, and a bool scores its clauses' sum."""
    from opensearch_spark.search import dsl

    out, corpus = ix
    eng = SearchEngine(spark, out, corpus=corpus, similarity=sim)
    k = 5

    def scored(rows):
        return [(int(r["docId"]), float(r["score"])) for r in rows]

    def compiled(q):
        return eng.compile(dsl.parse(q)).orderBy(F.desc("score"), F.asc("docId"))

    tier(on)
    batch = eng.msearch(SIM_QUERIES, k=k).collect()
    for qid, q in enumerate(SIM_QUERIES):
        want = scored(compiled(q).limit(k).collect())
        assert want
        for got in (scored(eng.search(q, k=k).collect()),
                    scored(r for r in batch if r["qid"] == qid)):
            assert [d for d, _ in got] == [d for d, _ in want]
            assert [s for _, s in got] == pytest.approx([s for _, s in want], abs=1e-9)
        prof = eng.request({"query": q, "size": k, "profile": True})["profile"]["query"]
        assert prof["path"] == ("driver" if on else "spark")
    must, should = (dict(scored(compiled(c).collect()))
                    for c in (SIM_QUERIES[3]["bool"]["must"][0],
                              SIM_QUERIES[3]["bool"]["should"][0]))
    hits = scored(eng.search(SIM_QUERIES[3], k=50).collect())
    assert len(hits) == 50 and any(d in should for d, _ in hits)
    for d, s in hits:
        assert s == pytest.approx(must[d] + should.get(d, 0.0), abs=1e-9)


def test_upsert_batch(spark, tmp_path):
    from opensearch_spark.index.incremental import upsert_batch

    pdf = generate_corpus(120, seed=23)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "upix")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    # pick a doc and rewrite its content
    row = corpus.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(row["repo"], row["path"], row["commit"],
          "zzzupserted token stream alpha beta", row["lang"])],
        "repo string, path string, commit string, content string, lang string",
    )
    upsert_batch(spark, new, out)
    eng2 = SearchEngine(spark, out, corpus=corpus)
    doc_id = int(spark.createDataFrame([(row["repo"], row["path"], row["commit"])],
                 "repo string, path string, commit string")
                 .select(F.xxhash64("repo", "path", "commit")).collect()[0][0])
    hits = ids(eng2.search({"match": {"content": "zzzupserted"}}, k=5).collect())
    assert hits == [doc_id]
    # the old content no longer matches for that doc
    old_terms = [t for t in row["content"].split() if t.isalpha()][:1]
    if old_terms:
        old_hits = ids(eng2.search({"match": {"content": old_terms[0]}},
                                   k=200).collect())
        # doc may legitimately still match if the new text shares the term;
        # the invariant that MUST hold: doc count for the doc is 1 copy
        assert eng2.docstats.where(F.col("docId") == doc_id).count() == 1


def test_ngram_jaccard_skew_cap(spark, tmp_path):
    """10x-duplicated source bucket is dropped under max_bucket_docs —
    the quadratic bucket never runs."""
    import pandas as pd

    from opensearch_spark.pipelines import dedup

    n_small, n_big = 6, 60
    rows = []
    for i in range(n_small):
        rows.append((i, f"alpha beta gamma delta epsilon {i}", "small"))
    for i in range(n_big):
        rows.append((100 + i, f"one two three four five {i % 3}", "big"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    p = str(tmp_path / "docs")
    os.makedirs(p)
    docs.write.mode("overwrite").parquet(os.path.join(p, "documents.parquet"))
    capped = dedup.ngram_jaccard_pairs(spark, p, max_bucket_docs=30,
                                       route_dropped=False)
    pairs = capped.select("a", "b").collect()
    # all surviving pairs come from the small bucket (ids < 100 or their
    # near-dup shifted copies)
    for r in pairs:
        for v in (int(r["a"]), int(r["b"])):
            base = v % dedup.SHIFT_ID
            assert base < 100, f"big-bucket pair leaked: {r}"

    # default path: the hot bucket is ROUTED through same-source
    # MinHash-LSH instead of silently dropped — near-dup pairs from the
    # big bucket reappear, and the accounting names the routed bucket
    routed = dedup.ngram_jaccard_pairs(spark, p, max_bucket_docs=30)
    big_pairs = [
        r for r in routed.select("a", "b").collect()
        if int(r["a"]) % dedup.SHIFT_ID >= 100
    ]
    assert big_pairs, "hot bucket not re-covered by LSH routing"
    acct = {
        r["source"]: (int(r["n_docs"]), bool(r["routed_to_lsh"]))
        for r in dedup.ngram_bucket_accounting(spark, p, 30).collect()
    }
    assert acct["big"] == (2 * n_big, True)
    assert acct["small"] == (2 * n_small, False)


def test_search_template(eng):
    """Mustache search templates render + execute (lang-mustache)."""
    eng.templates.put("my_q", """
      {"query": {"match": {"{{field}}": {"query": "{{q}}",
        "operator": "{{op}}{{^op}}or{{/op}}"}}},
       "size": {{size}}{{^size}}10{{/size}}}
    """)
    out = eng.search_template({"id": "my_q",
                               "params": {"field": "content", "q": "def",
                                          "size": 4}})
    hits = out["hits"].collect()
    assert 0 < len(hits) <= 4
    # toJson + section
    from opensearch_spark.search.templates import render_query
    q = render_query(
        '{"query": {"terms": {"lang": {{#toJson}}langs{{/toJson}}}}'
        '{{#with_size}}, "size": 2{{/with_size}}}',
        {"langs": ["java", "py"], "with_size": True},
    )
    assert q == {"query": {"terms": {"lang": ["java", "py"]}}, "size": 2}


def test_reindex_with_query_and_transform(spark, ix, tmp_path):
    from opensearch_spark.index.reindex import reindex
    from opensearch_spark.search.engine import SearchEngine as SE

    out, corpus = ix
    src = SE(spark, out, corpus=corpus)
    dest = str(tmp_path / "reix")
    reindex(
        spark, src, dest,
        query={"match": {"content": "def"}},
        transform=lambda df: df.withColumn(
            "content", F.concat(F.lit("xmarker "), F.col("content"))
        ),
        n_segments=2,
    )
    dst = SE(spark, dest, corpus=None)
    n_src = src.count({"match": {"content": "def"}})
    # every reindexed doc carries the injected marker token
    assert dst.count({"match": {"content": "xmarker"}}) == n_src
    assert dst.doc_count == n_src


def test_snapshot_restore(spark, ix, tmp_path, fail_nth_write):
    from conftest import InjectedFault
    from opensearch_spark.index.incremental import add_batch
    from opensearch_spark.index.snapshot import (
        create_snapshot, list_snapshots, restore_snapshot,
    )
    from opensearch_spark.search.engine import SearchEngine as SE

    out, corpus = ix
    repo = str(tmp_path / "repo")
    os.makedirs(repo)
    meta = create_snapshot(out, repo, "snap1")
    assert meta["state"] == "SUCCESS" and meta["n_files"] > 0
    assert [s["name"] for s in list_snapshots(repo)] == ["snap1"]
    with pytest.raises(ValueError):
        create_snapshot(out, repo, "snap1")
    dest = str(tmp_path / "restored")
    restore_snapshot(repo, "snap1", dest)
    a = SE(spark, out, corpus=corpus)
    b = SE(spark, dest, corpus=corpus)
    qa = [(int(r["docId"]), round(float(r["score"]), 6))
          for r in a.search(Q, k=10).collect()]
    qb = [(int(r["docId"]), round(float(r["score"]), 6))
          for r in b.search(Q, k=10).collect()]
    assert qa == qb

    # a snapshot taken after a failed add_batch (its postings landed,
    # its termstats and manifest did not) restores exactly the pre-state
    pdf = generate_corpus(60, seed=41)
    small = str(tmp_path / "small")
    build_index(spark, spark.createDataFrame(pdf.iloc[:40]), small, n_segments=2)

    def served(root):
        e = SE(spark, root)
        return (e.docstats.count(), [(int(r["docId"]), round(float(r["score"]), 6))
                                     for r in e.search(Q, k=50).collect()])

    pre = served(small)
    fail_nth_write(2)
    with pytest.raises(InjectedFault):
        add_batch(spark, spark.createDataFrame(pdf.iloc[40:]), small)
    fail_nth_write(0)
    create_snapshot(small, repo, "after_failed_write")
    restored = str(tmp_path / "restored_small")
    restore_snapshot(repo, "after_failed_write", restored)
    assert served(restored) == pre


def test_wrapper_query(eng):
    import base64
    import json

    inner = {"match": {"content": "def"}}
    wrapped = {"wrapper": {"query": base64.b64encode(
        json.dumps(inner).encode()).decode()}}
    a = ids(eng.search(inner, k=20).collect())
    b = ids(eng.search(wrapped, k=20).collect())
    assert a == b


def test_completion_suggester(eng):
    out = eng.suggest_completion("re", size=5)
    assert out and all(o["text"].startswith("re") for o in out)
    ws = [o["weight"] for o in out]
    assert ws == sorted(ws, reverse=True)


def test_significant_text_chi_square(spark, sf_dir):
    from opensearch_spark.search.aggs import compile_aggs
    import math

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = compile_aggs(docs, {
        "s": {"significant_text": {"field": "text", "foreground": "lang = 'en'",
                                   "size": 5, "min_doc_count": 3,
                                   "heuristic": "chi_square"}},
    }).collect()
    assert out
    # recompute chi2 for the top row
    r = out[0]
    n_fg = docs.where("lang = 'en'").count()
    n_bg = docs.count()
    fg_pct = r["doc_count"] / n_fg
    bg_pct = r["bg_count"] / n_bg
    want = (fg_pct - bg_pct) ** 2 / bg_pct
    assert math.isclose(r["score"], want, rel_tol=1e-9)


def test_whitespace_and_keyword_analyzers(spark, tmp_path):
    """Analyzer configurability (reference: index/analysis registry —
    standard / whitespace / keyword): the query side analyzes with the
    index's analyzer (from the manifest)."""
    import pandas as pd

    rows = [
        ("r", "a", "c1", "Foo-Bar baz.Qux", "x"),
        ("r", "b", "c1", "foo-bar BAZ", "x"),
        ("r", "c", "c1", "plain words here", "x"),
    ]
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "content", "lang"])
    )
    # whitespace: case-sensitive, punctuation kept inside tokens
    wdir = str(tmp_path / "ws")
    build_index(spark, corpus, wdir, n_segments=2,
                analyzer="whitespace")
    we = SearchEngine(spark, wdir, corpus=corpus)
    assert we.analyzer == "whitespace"
    assert len(ids(we.search({"match": {"content": "Foo-Bar"}}, k=10)
                   .collect())) == 1  # exact case + hyphen token
    assert we.count({"match": {"content": "foo-bar"}}) == 1  # other doc only
    # standard analyzer would match both docs on "foo bar"
    sdir = str(tmp_path / "std")
    build_index(spark, corpus, sdir, n_segments=2)
    se = SearchEngine(spark, sdir, corpus=corpus)
    assert se.count({"match": {"content": "foo bar"}}) == 2
    # keyword: whole string is one token
    kdir = str(tmp_path / "kw")
    build_index(spark, corpus, kdir, n_segments=2,
                analyzer="keyword")
    ke = SearchEngine(spark, kdir, corpus=corpus)
    assert ke.count({"match": {"content": "plain words here"}}) == 1
    assert ke.count({"match": {"content": "plain"}}) == 0


def test_analyze_validate_mappings_stats_apis(eng):
    toks = eng.analyze("Foo bar.baz")
    assert [t["token"] for t in toks] == ["foo", "bar.baz"]
    assert toks[0]["start_offset"] == 0 and toks[1]["position"] == 1
    ok = eng.validate_query({"match": {"content": "x"}})
    assert ok["valid"]
    bad = eng.validate_query({"unknown_kind": {}})
    assert not bad["valid"] and "unknown_kind" in bad["error"]
    m = eng.mappings()["properties"]
    assert m["content"]["type"] == "text"
    st = eng.stats()
    assert st["docs"]["count"] > 0 and st["segments"]["count"] >= 1
    assert st["store"]["postings_bytes"] > 0


def test_fuzzy_prefix_length(eng):
    """fuzzy prefix_length (FuzzyQueryBuilder.prefixLength): candidates
    must share the unedited prefix."""
    from opensearch_spark.search import dsl as dsl_mod

    free = eng.expand_terms(dsl_mod.parse(
        {"fuzzy": {"content": {"value": "return", "fuzziness": 2}}}))
    pinned = eng.expand_terms(dsl_mod.parse(
        {"fuzzy": {"content": {"value": "return", "fuzziness": 2,
                               "prefix_length": 3}}}))
    assert set(pinned) <= set(free)
    assert all(t.startswith("ret") for t in pinned)


def test_intervals_prefix_source(eng):
    """intervals prefix source (IntervalsSourceProvider.Prefix): prefix
    adjacent (ordered, max_gaps 0) to a fixed term == the expanded
    any_of over dictionary terms."""
    from opensearch_spark.search import dsl as dsl_mod

    q = {"intervals": {"content": {"all_of": {
        "intervals": [
            {"prefix": {"prefix": "ret"}},
            {"match": {"query": "self"}},
        ],
        "ordered": True, "max_gaps": 2,
    }}}}
    got = ids(eng.compile(dsl_mod.parse(q)).collect())
    # brute check: docs where a token starting with 'ret' is followed by
    # "self" within 2 gaps
    from opensearch_spark.analysis.analyzer import tokenize

    want = []
    for r in eng.corpus.select("docId", "content").collect():
        toks = tokenize(r["content"])
        hit = any(
            t.startswith("ret")
            and any(toks[j] == "self"
                    for j in range(i + 1, min(i + 4, len(toks))))
            for i, t in enumerate(toks)
        )
        if hit:
            want.append(int(r["docId"]))
    assert got == sorted(want)


def test_and_with_segment_absent_required_term(spark, tmp_path):
    """operator=and with a required term present in the index but ABSENT
    from some segments: docs in those segments must not match (the
    required count is the query's global term count, not the
    segment-present subset)."""
    import pandas as pd

    rows = []
    for i in range(40):
        text = "common filler words here"
        if i == 0:
            text = "common zzrare words"
        rows.append(("r", f"p{i}", "c", text, "x"))
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "content", "lang"])
    )
    out = str(tmp_path / "andix")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus)
    q = {"match": {"content": {"query": "common zzrare", "operator": "and"}}}
    hits = ids(eng.search(q, k=50).collect())
    assert len(hits) == 1
    # exhaustive compile, program path, and count must all agree
    from opensearch_spark.search import dsl as dsl_mod

    assert ids(eng.compile(dsl_mod.parse(q)).collect()) == hits
    assert eng.count(q) == 1
    # inside a bool must (program scorer path)
    bq = {"bool": {"must": [q], "should": [{"match": {"content": "words"}}]}}
    bhits = ids(eng.search(bq, k=50).collect())
    assert bhits == hits
    # msearch path
    ms = eng.msearch([q, bq], k=50).collect()
    assert sorted(int(r["docId"]) for r in ms if r["qid"] == 0) == hits
    assert sorted(int(r["docId"]) for r in ms if r["qid"] == 1) == hits


def test_template_falsy_zero_param(eng):
    from opensearch_spark.search.templates import render_query

    q = render_query('{"size": {{size}}{{^size}}10{{/size}}}', {"size": 0})
    assert q == {"size": 0}
    q2 = render_query('{"size": {{size}}{{^size}}10{{/size}}}', {})
    assert q2 == {"size": 10}


def test_function_score_min_with_filtered_function(eng):
    """score_mode=min combines MATCHING functions only (a non-matching
    filtered function must not contribute an identity 0)."""
    q = {
        "function_score": {
            "query": {"match": {"content": "def"}},
            "score_mode": "min",
            "boost_mode": "replace",
            "functions": [
                {"filter": {"term": {"lang": "___nomatch___"}},
                 "weight": 0.001},
                {"weight": 2.0},
            ],
        }
    }
    rows = eng.search(q, k=5).collect()
    assert rows and all(abs(float(r["score"]) - 2.0) < 1e-9 for r in rows)


def test_date_range_string_bounds(spark, sf_dir):
    from opensearch_spark.search.aggs import compile_aggs

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = compile_aggs(orders, {
        "r": {"date_range": {"field": "o_orderdate", "ranges": [
            {"to": "1995-01-01"}, {"from": "1995-01-01"},
        ]}},
    }).collect()
    total = sum(r["doc_count"] for r in out)
    assert total == orders.where("o_orderdate is not null").count()


def test_function_score_weighted_avg(eng):
    """score_mode=avg is the WEIGHTED average: sum(weighted values) /
    sum(weights)."""
    q = {
        "function_score": {
            "query": {"match": {"content": "def"}},
            "score_mode": "avg",
            "boost_mode": "replace",
            "functions": [{"weight": 3.0}, {"weight": 4.0}],
        }
    }
    rows = eng.search(q, k=3).collect()
    # values are 3 and 4 (weight-only fns), weights 3 and 4:
    # (3 + 4) / (3 + 4) = 1.0
    assert rows and all(abs(float(r["score"]) - 1.0) < 1e-9 for r in rows)


def test_terms_lookup_source_filtering_date_math(spark, sf_dir, eng):
    """Three fetch-path extras: terms lookup, _source includes/excludes
    patterns, and date-math range bounds with an injectable anchor."""
    import datetime

    # terms lookup against the corpus (lang of an existing doc -> filter)
    ref = eng.corpus.select("docId", "lang").limit(1).collect()[0]
    out = eng.search({"terms": {"lang": {"id": int(ref["docId"]),
                                         "path": "lang"}}}, k=500)
    got_langs = {r["lang"] for r in eng.fetch(out).select("lang").collect()}
    assert got_langs == {ref["lang"]}
    # _source dict form with wildcards
    r = eng.request({"query": {"match": {"content": "def"}}, "size": 2,
                     "_source": {"includes": ["la*", "repo"],
                                 "excludes": ["lang2*"]}})
    cols = set(r["hits"].columns)
    assert "lang" in cols and "repo" in cols and "content" not in cols
    # date math over the events table via a fresh engine corpus
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev2 = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    e2 = SearchEngine(spark, eng.paths.root, corpus=None)
    e2.corpus = ev2.withColumn("docId", F.col("event_id").cast("long"))
    e2.now = datetime.datetime(2024, 1, 3, 12, 0, 0)
    from opensearch_spark.search import dsl as dsl_mod

    n_dm = e2.compile(dsl_mod.parse(
        {"range": {"ts": {"gte": "now-1d/d", "lt": "now/d"}}})).count()
    n_explicit = ev2.where(
        "ts >= timestamp'2024-01-02 00:00:00' and ts < timestamp'2024-01-03 00:00:00'"
    ).count()
    assert n_dm == n_explicit and n_dm > 0


def test_pit_survives_compaction(spark, tmp_path):
    """PIT hardlink-pins its file set: compact_index (which rmtrees the
    old generation) must not break an open PIT reader — the reference's
    PIT holds segment references that block deletion (ADVICE r2)."""
    from opensearch_spark.index.incremental import compact_index

    corpus = spark.createDataFrame(generate_corpus(120, seed=23))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=4)
    live = SearchEngine(spark, out, corpus=corpus)
    pit = live.open_pit()
    before = [(int(r["docId"]), round(float(r["score"]), 6))
              for r in live.search(Q, k=10).collect()]
    compact_index(spark, out, target_segments=2)
    pinned = SearchEngine(spark, out, corpus=corpus, pit=pit)
    pinned_rows = [(int(r["docId"]), round(float(r["score"]), 6))
                   for r in pinned.search(Q, k=10).collect()]
    assert pinned_rows == before
    # close releases the pinned references
    fresh = SearchEngine(spark, out, corpus=corpus)
    fresh.close_pit(pit)
    assert not os.path.exists(os.path.join(out, "pits", pit["pit_id"]))


def test_source_dict_with_docvalue_and_derived(eng):
    """_source dict form (includes/excludes wildcards) must keep working
    when docvalue_fields / derived fields are also requested (ADVICE r2:
    the old list(src)+[...] destroyed the dict)."""
    out = eng.request({
        "query": Q, "size": 5,
        "_source": {"includes": ["la*"], "excludes": ["lang2*"]},
        "docvalue_fields": ["path"],
        "derived": {"lang_upper": "upper(lang)"},
    })
    cols = out["hits"].columns
    assert "lang" in cols            # wildcard include still applied
    assert "repo" not in cols        # not included
    assert "path_value" in cols      # docvalue field appended
    assert "lang_upper" in cols      # derived field appended
    rows = out["hits"].collect()
    assert rows and rows[0]["lang_upper"] == rows[0]["lang"].upper()


def test_date_math_month_end_clamp(eng):
    """now+1M anchored on Mar 31 resolves to Apr 30 (java.time
    plusMonths semantics), not Apr 28."""
    import datetime as dt

    eng.now = dt.datetime(2024, 3, 31, 12, 0, 0)
    try:
        got = eng._resolve_date_math("now+1M")
        assert got == dt.datetime(2024, 4, 30, 12, 0, 0), got
        got = eng._resolve_date_math("now-1M")
        assert got == dt.datetime(2024, 2, 29, 12, 0, 0), got  # leap year
    finally:
        eng.now = None


def test_geo_queries(spark, ix):
    """geo_distance / geo_bounding_box queries (filter context) vs a
    brute-force haversine check over the corpus."""
    import math

    out, corpus = ix
    geo = corpus.withColumn(
        "location",
        F.struct(
            ((F.xxhash64("repo", "path", "commit") % 1400) / 10.0).alias("lat"),
            ((F.xxhash64("path", "commit") % 3400) / 10.0).alias("lon"),
        ),
    )
    eng = SearchEngine(spark, out, corpus=geo)
    got = ids(eng.search({
        "bool": {"must": [{"match": {"content": "def"}}],
                 "filter": [{"geo_distance": {
                     "distance": "5000km",
                     "location": {"lat": 10.0, "lon": 20.0}}}]},
    }, k=1000).collect())

    R = 6371008.7714150598
    def hav(lat, lon):
        a = (math.sin(math.radians(lat - 10.0) / 2) ** 2
             + math.cos(math.radians(10.0)) * math.cos(math.radians(lat))
             * math.sin(math.radians(lon - 20.0) / 2) ** 2)
        return 2 * R * math.asin(math.sqrt(a))
    base = ids(eng.search({"match": {"content": "def"}}, k=1000).collect())
    pts = {int(r["docId"]): (r["location"]["lat"], r["location"]["lon"])
           for r in geo.withColumn(
               "docId", F.xxhash64("repo", "path", "commit")
           ).select("docId", "location").collect()}
    want = sorted(d for d in base if hav(*pts[d]) <= 5_000_000)
    assert got == want and got

    # bbox: result == manual lat/lon box filter
    got2 = ids(eng.search({
        "bool": {"must": [{"match": {"content": "def"}}],
                 "filter": [{"geo_bounding_box": {"location": {
                     "top_left": {"lat": 60.0, "lon": -100.0},
                     "bottom_right": {"lat": -60.0, "lon": 150.0}}}}]},
    }, k=1000).collect())
    want2 = sorted(
        d for d in base
        if -60.0 <= pts[d][0] <= 60.0 and -100.0 <= pts[d][1] <= 150.0
    )
    assert got2 == want2 and got2
