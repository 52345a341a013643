"""The driver-local fetch phase (search/stored.py): a driver-tier
request reads its hits' corpus rows from the parquet files by row index.
It must return what the Spark fetch returns, and hand every corpus it
cannot read exactly back to the Spark fetch."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opensearch_spark.index.build import build_index
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

Q = {"match": {"content": "def return import"}}


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    """(root, corpus frame): an index over a corpus of 3 parquet files of
    4 row groups each, plus an int and a double column for docvalue
    fields."""
    root = str(tmp_path_factory.mktemp("fetch"))
    pdf = generate_corpus(300, seed=11)
    pdf["n"] = pdf["content"].str.len().astype("int64")
    pdf["ratio"] = pdf["n"] / 7.0
    os.makedirs(os.path.join(root, "corpus"))
    for i in range(3):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[i * 100:(i + 1) * 100],
                                            preserve_index=False),
                       os.path.join(root, "corpus", f"part-{i}.parquet"),
                       row_group_size=30)
    corpus = spark.read.parquet(os.path.join(root, "corpus"))
    build_index(spark, corpus, os.path.join(root, "ix"), n_segments=4)
    return root, pdf


def engine(spark, root, corpus=None):
    return SearchEngine(spark, os.path.join(root, "ix"), corpus=(
        spark.read.parquet(os.path.join(root, "corpus")) if corpus is None else corpus))


def both_fetches(eng, tier, body):
    """(driver-tier request rows, Spark request rows, driver-tier dtypes,
    Spark dtypes, the tier's profile)."""
    out = []
    for on in (True, False):
        tier(on)
        r = eng.request({**body, "profile": True})
        out.append((r["hits"].collect(), r["hits"].dtypes, r["profile"]["query"]))
    (on, on_types, prof), (off, off_types, _) = out
    assert prof["path"] == "driver"
    return on, off, on_types, off_types, prof


@pytest.mark.parametrize("body", [
    {"query": Q, "size": 10, "_source": ["path", "lang"]},
    {"query": Q, "size": 10, "_source": {"includes": ["p*", "r*"], "excludes": ["re*"]}},
    {"query": Q, "size": 5, "_source": ["lang"],
     "highlight": {"fields": {"content": {}}}},
    {"query": Q, "size": 5, "_source": ["repo"],
     "docvalue_fields": ["lang", {"field": "n", "format": "%05d"}]},
    {"query": Q, "size": 5, "derived": {"plen": "length(path) + n"}},
    {"query": Q, "size": 5, "highlight": {"fields": {"content": {}}}},
    {"query": {"match": {"content": "zzzunknownzzz"}}, "size": 5, "_source": ["path"]},
    {"query": {"match": {"content": "def"}}, "size": 100, "_source": ["path"]},
    {"query": Q, "size": 5, "_source": ["repo"], "docvalue_fields": ["lang", "n"]},
    {"query": Q, "size": 5, "_source": ["repo"], "docvalue_fields": ["n", "ratio"]},
    {"query": Q, "size": 5, "_source": {"excludes": ["content"]},
     "highlight": {"fields": {"content": {"fragment_size": 40}, "path": {}}}},
    {"query": Q, "size": 5, "_source": ["lang"], "derived": {"plen": "length(path)"},
     "highlight": {"fields": {"content": {}}}},
    {"query": {"match": {"content": "zzzunknownzzz"}}, "size": 5,
     "highlight": {"fields": {"content": {}}}, "docvalue_fields": ["n"]},
], ids=["list", "includes-excludes", "highlight", "docvalue", "derived",
        "no-source", "zero-hits", "fewer-than-size", "docvalue-plain",
        "docvalue-double", "highlight-two-fields", "highlight-derived",
        "zero-hits-highlight"])
def test_driver_fetch_equals_spark_fetch(spark, ix, tier, body):
    eng = engine(spark, ix[0])
    on, off, on_types, off_types, prof = both_fetches(eng, tier, body)
    assert on == off and on_types == off_types
    assert prof["fetch"] == "driver"
    # only derived fields and formatted or non-integer/string doc values
    # need DataFrame post-processing
    plain = all(f in ("lang", "n") for f in body.get("docvalue_fields", []))
    assert prof["render"] == ("driver" if plain and "derived" not in body else "spark")
    if "zzz" in str(body["query"]):
        assert on == [] and prof["fetch_rows_read"] == 0
    else:
        assert 0 < len(on) <= body["size"] and prof["fetch_rows_read"] > 0
    if body["size"] == 100:
        assert len(on) < 100


ALL = ["docId", "repo", "path", "commit", "lang", "content", "n", "ratio", "score"]


@pytest.mark.parametrize("src, extra, cols", [
    (True, {}, ALL),
    ("path", {}, ["docId", "score", "path"]),
    (["p*"], {}, ["docId", "score", "path"]),
    ({"includes": "p*"}, {}, ["docId", "score", "path"]),
    ({"excludes": "c*"}, {}, ["docId", "score", "repo", "path", "lang", "n", "ratio"]),
    (False, {"highlight": {"fields": {"content": {}}}}, ["docId", "score", "highlights"]),
], ids=["true", "string", "list-pattern", "includes-string", "excludes-string",
        "false-highlight"])
def test_source_forms(spark, ix, tier, src, extra, cols):
    """``_source`` as the reference's FetchSourceContext parses it: true
    is the whole source, false none of it, a string one include
    pattern, a list include patterns, and includes/excludes may each be
    a string."""
    eng = engine(spark, ix[0])
    on, off, on_types, off_types, prof = both_fetches(
        eng, tier, {"query": Q, "size": 5, "_source": src, **extra})
    assert on == off and on_types == off_types
    assert [c for c, _ in on_types] == cols and len(on) == 5
    assert prof["fetch"] == "driver" and prof["render"] == "driver"


def test_tier_request_makes_one_hand_off(spark, ix, tier, monkeypatch):
    """A warm tier request with a ``_source`` list, collected, makes no
    more Py4J calls from the request thread than one
    ``spark.createDataFrame`` of a same-shaped Arrow table and its
    collect: the response crosses into the JVM once."""
    import threading

    from py4j.clientserver import ClientServerConnection

    eng = engine(spark, ix[0])
    body = {"query": Q, "size": 10, "_source": ["path", "lang"]}
    tier(True)
    hits = eng.request(body)["hits"]
    rows, schema = hits.collect(), hits.schema
    table = pa.table({c: [r[c] for r in rows] for c in schema.names})
    me, calls, send = threading.get_ident(), [0], ClientServerConnection.send_command

    def counted(conn, command):
        calls[0] += threading.get_ident() == me
        return send(conn, command)

    def count(fn) -> int:
        fn()  # warm
        calls[0] = 0
        fn()
        return calls[0]

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    n_request = count(lambda: eng.request(body)["hits"].collect())
    n_floor = count(lambda: spark.createDataFrame(table, schema).collect())
    assert 0 < n_request <= n_floor, (n_request, n_floor)


def test_driver_fetch_skips_tombstones(spark, ix, tier, tmp_path):
    root = str(tmp_path)
    shutil.copytree(os.path.join(ix[0], "ix"), os.path.join(root, "ix"))
    eng = SearchEngine(spark, os.path.join(root, "ix"),
                       corpus=spark.read.parquet(os.path.join(ix[0], "corpus")))
    body = {"query": Q, "size": 10, "_source": ["path"]}
    tier(True)
    top = eng.request(body)["hits"].collect()[0]["docId"]
    eng.delete([top])
    on, off, _, _, prof = both_fetches(eng, tier, body)
    assert on == off and top not in {r["docId"] for r in on}
    assert prof["fetch"] == "driver"


def test_driver_fetch_returns_every_row_of_a_docid(spark, ix, tier, tmp_path):
    """A corpus docId with several rows (here: a fourth file repeating
    every row) yields each of them, as the Spark join does."""
    root, pdf = ix
    corpus = str(tmp_path / "corpus")
    shutil.copytree(os.path.join(root, "corpus"), corpus)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(corpus, "part-3.parquet"), row_group_size=7)
    eng = engine(spark, root, spark.read.parquet(corpus))
    on, off, _, _, prof = both_fetches(
        eng, tier, {"query": Q, "size": 10, "_source": ["path", "content"]})
    assert prof["fetch"] == "driver"
    assert sorted(on) == sorted(off)
    assert [r["docId"] for r in on] == [r["docId"] for r in off]
    assert len(on) > len({r["docId"] for r in on})


def test_changed_corpus_file_falls_back_to_spark(spark, ix, tier, tmp_path):
    root = ix[0]
    corpus = str(tmp_path / "corpus")
    shutil.copytree(os.path.join(root, "corpus"), corpus)
    eng = engine(spark, root, spark.read.parquet(corpus))
    body = {"query": Q, "size": 10, "_source": ["path"], "profile": True}
    tier(True)
    first = eng.request(body)
    assert first["profile"]["query"]["fetch"] == "driver"
    assert eng._stored.ids is not None
    f = os.path.join(corpus, "part-1.parquet")
    st = os.stat(f)
    pq.write_table(pq.read_table(f), f, row_group_size=30)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    again = eng.request(body)
    assert again["profile"]["query"]["fetch"] == "spark"
    assert again["hits"].collect() == first["hits"].collect()


@pytest.mark.parametrize("make", [
    lambda spark, d: spark.read.parquet(d).where("lang != 'zz'"),
    lambda spark, d: spark.read.parquet(d).select("repo", "path", "commit", "content"),
    lambda spark, d: spark.createDataFrame(
        pq.read_table(d).to_pandas()),
], ids=["filter", "projection", "pandas"])
def test_other_corpora_fall_back_to_spark(spark, ix, tier, make):
    root = ix[0]
    eng = engine(spark, root, make(spark, os.path.join(root, "corpus")))
    on, off, _, _, prof = both_fetches(
        eng, tier, {"query": Q, "size": 10, "_source": ["path"]})
    assert prof["fetch"] == "spark" and eng._stored is False
    assert on == off


def test_partitioned_corpus_falls_back_to_spark(spark, ix, tier, tmp_path):
    root = ix[0]
    d = str(tmp_path / "by_lang")
    spark.read.parquet(os.path.join(root, "corpus")).write.partitionBy("lang").parquet(d)
    eng = engine(spark, root, spark.read.parquet(d))
    on, off, _, _, prof = both_fetches(
        eng, tier, {"query": Q, "size": 10, "_source": ["path", "lang"]})
    assert prof["fetch"] == "spark" and eng._stored is False
    assert on == off
