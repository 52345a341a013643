from opensearch_spark.search.highlight import PRE, POST, make_fragments


def test_fragments_wrap_matches():
    text = "the quick brown fox jumps over the lazy dog while foxes watch"
    frags = make_fragments(text, {"fox", "lazy"}, frag_size=200, n_frags=3)
    assert frags
    joined = " ".join(frags)
    assert f"{PRE}fox{POST}" in joined
    assert f"{PRE}lazy{POST}" in joined
    # 'foxes' is a different token — must not be wrapped
    assert f"{PRE}foxes{POST}" not in joined


def test_fragments_respect_analyzer():
    # analyzer keeps foo_bar together; query for 'foo' must not highlight it
    text = "foo_bar and foo together"
    frags = make_fragments(text, {"foo"}, frag_size=100)
    assert frags
    assert f"{PRE}foo_bar{POST}" not in frags[0]
    assert f"{PRE}foo{POST}" in frags[0]


def test_no_match_no_fragments():
    assert make_fragments("hello world", {"zzz"}) == []
    assert make_fragments("", {"x"}) == []


def test_fragment_count_cap():
    text = "cat " * 100
    frags = make_fragments(text, {"cat"}, frag_size=30, n_frags=2)
    assert len(frags) == 2


def test_highlight_df(spark, sf_dir):
    from opensearch_spark.search.highlight import highlight

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    out = highlight(docs, "hash join", text_col="text").collect()
    assert any(r["highlights"] for r in out)
    for r in out:
        for frag in r["highlights"]:
            assert PRE in frag


def test_phrase_aware_only_matching_positions():
    from opensearch_spark.search import ast as A
    from opensearch_spark.search.highlight import query_spec

    # stray 'hash' (position 0) must NOT be highlighted; the phrase
    # occurrence 'hash table' must be
    text = "hash elsewhere but a hash table lives here"
    spec = query_spec(A.MatchPhrase(field_name="f", query="hash table"))
    frags = make_fragments(text, spec, frag_size=200, n_frags=3)
    joined = " ".join(frags)
    assert f"{PRE}hash{POST} {PRE}table{POST}" in joined
    assert joined.count(f"{PRE}hash{POST}") == 1


def test_phrase_ordinals_sloppy_window():
    from opensearch_spark.search.highlight import phrase_ordinals

    toks = "a x b z z a b".split()
    # slop 1: (a@0, b@2) within window; (a@5, b@6) exact; a@0-b@6 too far
    got = phrase_ordinals(toks, ["a", "b"], slop=1)
    assert got == {0, 2, 5, 6}
    # slop 0: only the adjacent pair
    assert phrase_ordinals(toks, ["a", "b"], slop=0) == {5, 6}


def test_bool_mixes_loose_terms_and_phrases():
    from opensearch_spark.search import ast as A
    from opensearch_spark.search.highlight import query_spec, match_ordinals

    node = A.Bool(
        must=[A.MatchPhrase(field_name="f", query="hash table")],
        should=[A.Match(field_name="f", query="join")],
        must_not=[A.Match(field_name="f", query="never")],
    )
    spec = query_spec(node)
    assert spec["terms"] == {"join"}
    assert spec["phrases"] == [(["hash", "table"], 0)]
    toks = "join hash stray hash table never".split()
    # 'join' everywhere, phrase positions only, must_not ignored
    assert match_ordinals(toks, spec) == {0, 3, 4}


def test_engine_phrase_highlight_e2e(spark, sf_dir):
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.engine import SearchEngine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "ix")
        build_index(spark, docs, out, text_col="text", doc_id_col="doc_id",
                    n_segments=2)
        eng = SearchEngine(spark, out, corpus=docs, text_field="text",
                           doc_id_col="doc_id")
        res = eng.request({
            "query": {"match_phrase": {"text": "hash table"}},
            "size": 5,
            "highlight": {"fields": {"text": {"fragment_size": 120}}},
        })["hits"].collect()
        assert res
        for r in res:
            for frag in r["highlights"]:
                assert f"{PRE}hash{POST} {PRE}table{POST}" in frag or PRE in frag


def test_phrase_ordinals_repeated_term_needs_distinct_occurrences():
    """review r5: one lone occurrence can never satisfy two slots of a
    repeated-term phrase — the stray trailing 'a' must not be marked."""
    from opensearch_spark.search.highlight import phrase_ordinals

    toks = "a a x x x x a".split()
    assert phrase_ordinals(toks, ["a", "a"], slop=1) == {0, 1}
    # a single 'a' anywhere: no match at all
    assert phrase_ordinals("x a x".split(), ["a", "a"], slop=3) == set()
    # two far-apart 'a's within slop window DO match
    assert phrase_ordinals("a x a".split(), ["a", "a"], slop=1) == {0, 2}
    # distinct-term behavior unchanged
    assert phrase_ordinals("a x b z z a b".split(), ["a", "b"], slop=1) \
        == {0, 2, 5, 6}


def test_phrase_ordinals_dp_equals_bruteforce():
    """The order-preserving matching DP equals exhaustive enumeration
    of distinct per-slot assignments (review r5 replaced the
    exponential product with this DP)."""
    import itertools
    import random

    from opensearch_spark.search.highlight import phrase_ordinals

    def brute(tokens, phrase, slop):
        k = len(phrase)
        out = set()
        pos = {}
        for i, t in enumerate(tokens):
            pos.setdefault(t, []).append(i)
        if any(t not in pos for t in set(phrase)):
            return out
        for combo in itertools.product(*[pos[t] for t in phrase]):
            if any(phrase[j1] == phrase[j2] and combo[j1] == combo[j2]
                   for j1 in range(k) for j2 in range(j1 + 1, k)):
                continue
            adj = [combo[j] - j for j in range(k)]
            if max(adj) - min(adj) <= slop:
                out.update(combo)
        return out

    rng = random.Random(13)
    for _ in range(200):
        n = rng.randint(2, 12)
        alpha = "ab" if rng.random() < 0.6 else "abc"
        tokens = [rng.choice(alpha) for _ in range(n)]
        phrase = [rng.choice(alpha) for _ in range(rng.randint(2, 4))]
        slop = rng.randint(1, 4)
        got = phrase_ordinals(tokens, phrase, slop)
        assert got == brute(tokens, phrase, slop), (tokens, phrase, slop)


def test_phrase_ordinals_pathological_doc_is_fast():
    """Repetitive doc + repeated-term sloppy phrase must complete in
    milliseconds (review r5: product enumeration was exponential)."""
    import time

    from opensearch_spark.search.highlight import phrase_ordinals

    t0 = time.time()
    r = phrase_ordinals(["a"] * 200, ["a", "a", "a", "a"], 30)
    assert time.time() - t0 < 2.0
    assert r  # everything participates in this doc


def test_query_spec_field_filtering_and_matched_fields():
    """Unified-highlighter contract: a clause on another field does not
    highlight this one; matched_fields widens the set (reference:
    HighlightBuilder matchedFields)."""
    from opensearch_spark.search import dsl as dsl_mod
    from opensearch_spark.search.highlight import query_spec

    q = dsl_mod.parse({"bool": {"must": [
        {"match": {"text": "alpha beta"}},
        {"match": {"source": "gamma"}},
        {"match_phrase": {"text": "hash table"}},
    ]}})
    # no field set: historical collect-everything
    all_spec = query_spec(q)
    assert all_spec["terms"] == {"alpha", "beta", "gamma"}
    # restricted to 'text': the source clause drops out
    t_spec = query_spec(q, fields={"text"})
    assert t_spec["terms"] == {"alpha", "beta"}
    assert t_spec["phrases"] == [(["hash", "table"], 0)]
    # matched_fields widens
    both = query_spec(q, fields={"text", "source"})
    assert both["terms"] == {"alpha", "beta", "gamma"}
    # multi-field clauses contribute when any field intersects
    mm = dsl_mod.parse({"multi_match": {"query": "delta",
                                        "fields": ["text^2", "source"]}})
    assert query_spec(mm, fields={"source"})["terms"] == {"delta"}
    assert query_spec(mm, fields={"other"})["terms"] == set()


def test_request_matched_fields_and_highlight_query(spark, sf_dir):
    import __spark_entry__ as entry

    eng = entry._engine(spark, sf_dir)
    # highlight_query replaces the search query for fragment marking
    out = eng.request({
        "query": {"match": {"text": "hash join"}}, "size": 3,
        "highlight": {"fields": {"text": {
            "highlight_query": {"match": {"text": "table"}},
            "fragment_size": 60, "number_of_fragments": 1,
        }}},
    })
    for r in out["hits"].collect():
        for frag in (r["highlights"] or []):
            assert "<em>table</em>" in frag or "<em>" not in frag
            assert "<em>hash</em>" not in frag and "<em>join</em>" not in frag
    # field filtering / matched_fields / require_field_match e2e is
    # covered with a planted cross-field vocabulary in
    # test_require_field_match_false_collects_everything


def test_require_field_match_false_collects_everything(spark, tmp_path):
    """require_field_match: false (reference default is true) restores
    the collect-every-clause behavior per request or per field: a term
    from a clause on ANOTHER field marks this field's text when (and
    only when) the switch is off."""
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.engine import MultiFieldEngine

    rows = [(0, "alpha beta shared gamma", "shared note"),
            (1, "alpha plain text here", "other note"),
            (2, "unrelated content words", "shared thing")]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, tag string")
    tdir, gdir = str(tmp_path / "t"), str(tmp_path / "g")
    build_index(spark, corpus, tdir, text_col="text",
                doc_id_col="doc_id", n_segments=2)
    build_index(spark, corpus, gdir, text_col="tag",
                doc_id_col="doc_id", n_segments=2)
    eng = MultiFieldEngine(spark, {"text": tdir, "tag": gdir},
                           corpus=corpus, doc_id_col="doc_id")
    body = {"query": {"bool": {
        "must": [{"match": {"text": "alpha"}}],
        "should": [{"match": {"tag": "shared"}}],
    }}, "size": 10}

    def frags_of(out):
        return {int(r["docId"]): list(r["highlights"] or [])
                for r in out["hits"].collect()}

    narrow = frags_of(eng.request(
        {**body, "highlight": {"fields": {"text": {}}}}))
    assert any("<em>alpha</em>" in f for f in narrow[0])
    assert not any("<em>shared</em>" in f for f in narrow[0])
    wide = frags_of(eng.request({**body, "highlight": {
        "require_field_match": False, "fields": {"text": {}}}}))
    assert any("<em>shared</em>" in f for f in wide[0])
    per_field = frags_of(eng.request({**body, "highlight": {"fields": {
        "text": {"require_field_match": False}}}}))
    assert per_field == wide


def test_field_less_clause_highlights_only_default_field(spark, tmp_path):
    """A clause naming no field (multi_match without ``fields``) targets
    the engine's text field, in the search and in highlighting: with two
    highlighted fields it marks that field's text and not the other's."""
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search import dsl as dsl_mod
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.search.highlight import query_spec

    field_less = {"multi_match": {"query": "shared"}}
    node = dsl_mod.parse(field_less)
    assert query_spec(node, fields={"tag"}, default_field="text")["terms"] == set()
    assert query_spec(node, fields={"text"}, default_field="text")["terms"] == {"shared"}

    rows = [(0, "alpha shared words", "shared note"),
            (1, "alpha plain text", "shared thing")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    root = str(tmp_path / "ix")
    build_index(spark, corpus, root, text_col="text", doc_id_col="doc_id", n_segments=2)
    eng = SearchEngine(spark, root, corpus=corpus, text_field="text", doc_id_col="doc_id")
    out = eng.request({"query": field_less, "size": 10,
                       "highlight": {"fields": {"text": {}, "tag": {}}}})
    got = {int(r["docId"]): (list(r["highlights_text"] or []), list(r["highlights_tag"] or []))
           for r in out["hits"].collect()}
    assert list(got) == [0]
    assert any("<em>shared</em>" in f for f in got[0][0])
    assert not any("<em>" in f for f in got[0][1])
