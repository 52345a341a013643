"""Custom analysis chains (analysis/filters.py) — the analysis-common
surface behind `_analyze` (reference: modules/analysis-common/.../
CommonAnalysisModulePlugin.java registry)."""

import pytest

from opensearch_spark.analysis.filters import analyze_chain, porter_stem


def toks(stream):
    return [t["token"] for t in stream]


def test_standard_chain_lowercase_stop_porter():
    got = analyze_chain(
        "The Running Dogs are chasing CATS",
        tokenizer="standard",
        filters=["lowercase", {"type": "stop"}, {"type": "stemmer"}],
    )
    # 'the'/'are' are in the english stop set; running->run, dogs->dog
    assert toks(got) == ["run", "dog", "chase", "cat"]


def test_porter_stemmer_canonical_examples():
    # examples straight from Porter (1980)
    for w, s in [("caresses", "caress"), ("ponies", "poni"),
                 ("caress", "caress"), ("cats", "cat"),
                 ("feed", "feed"), ("agreed", "agre"),
                 ("plastered", "plaster"), ("motoring", "motor"),
                 ("sing", "sing"), ("conflated", "conflat"),
                 ("sized", "size"), ("hopping", "hop"),
                 ("happy", "happi"), ("relational", "relat"),
                 ("conditional", "condit"), ("vietnamization", "vietnam"),
                 ("triplicate", "triplic"), ("formative", "form"),
                 ("revival", "reviv"), ("allowance", "allow"),
                 ("effective", "effect"), ("probate", "probat"),
                 ("rate", "rate"), ("controll", "control")]:
        assert porter_stem(w) == s, (w, porter_stem(w), s)


def test_shingle_filter():
    got = analyze_chain("a b c", tokenizer="whitespace",
                        filters=[{"type": "shingle"}])
    assert toks(got) == ["a", "a b", "b", "b c", "c"]
    no_uni = analyze_chain(
        "a b c", tokenizer="whitespace",
        filters=[{"type": "shingle", "min_shingle_size": 2,
                  "max_shingle_size": 3, "output_unigrams": False}])
    assert toks(no_uni) == ["a b", "a b c", "b c"]


def test_edge_ngram_and_ngram_filters():
    got = analyze_chain("spark", tokenizer="keyword",
                        filters=[{"type": "edge_ngram", "min_gram": 2,
                                  "max_gram": 4}])
    assert toks(got) == ["sp", "spa", "spar"]
    ng = analyze_chain("abc", tokenizer="keyword",
                       filters=[{"type": "ngram", "min_gram": 2,
                                 "max_gram": 3}])
    assert toks(ng) == ["ab", "bc", "abc"]


def test_synonym_filter_both_rule_forms():
    got = analyze_chain(
        "fast cpu", tokenizer="whitespace",
        filters=[{"type": "synonym",
                  "synonyms": ["fast, quick", "cpu => processor"]}])
    assert toks(got) == ["fast", "quick", "cpu", "processor"]


def test_char_filters_and_tokenizers():
    got = analyze_chain("<b>Hello</b> World", tokenizer="whitespace",
                        char_filters=["html_strip"], filters=["lowercase"])
    assert toks(got) == ["hello", "world"]
    mapped = analyze_chain("ph geek", tokenizer="whitespace",
                           char_filters=[{"type": "mapping",
                                          "mappings": ["ph => f"]}])
    assert toks(mapped) == ["f", "geek"]
    path = analyze_chain("/usr/local/bin",
                         tokenizer={"type": "path_hierarchy"})
    assert toks(path) == ["/usr", "/usr/local", "/usr/local/bin"]
    pat = analyze_chain("a-b_c", tokenizer={"type": "pattern",
                                            "pattern": "[-_]"})
    assert toks(pat) == ["a", "b", "c"]
    letter = analyze_chain("ab3cd ef", tokenizer={"type": "letter"})
    assert toks(letter) == ["ab", "cd", "ef"]


def test_misc_filters():
    got = analyze_chain(
        "  Mixed  CASE  tokens  ", tokenizer="whitespace",
        filters=[{"type": "length", "min": 5}, "lowercase", "reverse"])
    assert toks(got) == ["dexim", "snekot"]
    folded = analyze_chain("café naïve", tokenizer="whitespace",
                           filters=["asciifolding"])
    assert toks(folded) == ["cafe", "naive"]
    uniq = analyze_chain("a b a c b", tokenizer="whitespace",
                         filters=["unique"])
    assert toks(uniq) == ["a", "b", "c"]
    trunc = analyze_chain("abcdefgh", tokenizer="keyword",
                          filters=[{"type": "truncate", "length": 3}])
    assert toks(trunc) == ["abc"]


def test_engine_analyze_accepts_custom_chain(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.testing.corpus import generate_corpus

    corpus = spark.createDataFrame(generate_corpus(20, seed=3))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=1)
    eng = SearchEngine(spark, out, corpus=corpus)
    default = eng.analyze("Running Dogs")
    assert [t["token"] for t in default] == ["running", "dogs"]
    custom = eng.analyze("Running Dogs",
                         filters=["lowercase", {"type": "stemmer"}])
    assert [t["token"] for t in custom] == ["run", "dog"]
    with pytest.raises(ValueError):
        eng.analyze("x", filters=[{"type": "nope"}])


def test_stop_filter_case_sensitive_by_default():
    # reference StopTokenFilterFactory: ignore_case defaults to FALSE
    got = analyze_chain("The THE the", tokenizer="whitespace",
                        filters=[{"type": "stop"}])
    assert toks(got) == ["The", "THE"]
    ic = analyze_chain("The THE the", tokenizer="whitespace",
                       filters=[{"type": "stop", "ignore_case": True}])
    assert toks(ic) == []


def test_mapping_char_filter_single_pass():
    # reference MappingCharFilter: one rule's output is never re-mapped
    got = analyze_chain("a b", tokenizer="whitespace",
                        char_filters=[{"type": "mapping",
                                       "mappings": ["a => b", "b => c"]}])
    assert toks(got) == ["b", "c"]
    # longest source wins at the same offset
    lng = analyze_chain("abc", tokenizer="whitespace",
                        char_filters=[{"type": "mapping",
                                       "mappings": ["a => x", "ab => y"]}])
    assert toks(lng) == ["yc"]


def test_html_strip_decodes_entities():
    got = analyze_chain("a &amp; b", tokenizer="whitespace",
                        char_filters=["html_strip"])
    assert toks(got) == ["a", "&", "b"]


def test_stop_ignore_case_lowercases_stopwords():
    got = analyze_chain("foo Bar", tokenizer="whitespace",
                        filters=[{"type": "stop", "stopwords": ["FOO"],
                                  "ignore_case": True}])
    assert toks(got) == ["Bar"]


def test_mapping_rejects_empty_source():
    with pytest.raises(ValueError):
        analyze_chain("abc", char_filters=[{"type": "mapping",
                                            "mappings": ["=> x"]}])
