"""max_token_length (255) consistency across every tokenization path.

Lucene's StandardAnalyzer splits tokens longer than 255 chars into
255-char chunks (reference wiring: index/analysis — max_token_length).
Code corpora hit this constantly (minified JS, base64 blobs), so the
Python tokenizer, the DuckDB-dialect build/oracle expression, and the
Spark SQL re-tokenization expression must all agree — and every write
mode (default build, checkpointed waves, add_batch) must produce the
same index for such docs.
"""

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from opensearch_spark.analysis.analyzer import (
    duckdb_tokens_expr,
    spark_sql_tokens_expr,
    tokenize,
)
from opensearch_spark.index import codec
from opensearch_spark.index.build import build_index
from opensearch_spark.index.incremental import add_batch
from opensearch_spark.search.engine import SearchEngine

CASES = [
    "hello world",
    "a" * 600 + " tail",
    "b" * 255 + "c" * 256,
    "x" * 256,
    "don't stop v1.2.3 " + "y" * 510,
    "",
]


def test_duckdb_expr_matches_python_tokenize():
    con = duckdb.connect()
    con.register("t", pa.table({"s": CASES}))
    rows = con.execute(
        "SELECT " + duckdb_tokens_expr("standard", col="s") + " FROM t"
    ).fetchall()
    for s, (got,) in zip(CASES, rows):
        assert got == tokenize(s), s[:40]


def test_spark_expr_matches_python_tokenize(spark):
    df = spark.createDataFrame([(s,) for s in CASES], "s string")
    got = [r["toks"] for r in
           df.select(F.expr(spark_sql_tokens_expr("s")).alias("toks"))
           .collect()]
    for s, g in zip(CASES, got):
        assert g == tokenize(s), s[:40]


@pytest.fixture()
def long_corpus(spark):
    blob = "q" * 300  # splits into q*255 + q*45
    rows = [
        (0, f"intro {blob} world hash join"),
        (1, "plain hash join doc about tables"),
        (2, f"another {blob} appearance without the pair"),
        (3, "control doc hash only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _decoded_postings(spark, root):
    """Every posting as (term, docId, tf, positions), decoded."""
    out = []
    for r in spark.read.parquet(f"{root}/postings").collect():
        docs, tfs, _, pos = codec.decode_blocks(
            [r["n_docs"]], [r["doc_bytes"]], [r["tf_bytes"]],
            [r["norm_bytes"]], [r["pos_bytes"]])
        ends = np.cumsum(tfs)
        for d, tf, e in zip(docs, tfs, ends):
            out.append((r["term"], int(d), int(tf),
                        tuple(pos[e - tf:e].tolist())))
    return sorted(out)


def test_build_paths_agree_on_long_tokens(spark, long_corpus, tmp_path):
    """Every write mode gives the same index: the default build, a
    waves=2 build, and a build of half the docs plus add_batch of the
    rest agree on docstats and on every decoded posting (seg aside:
    the default build places segments by partition)."""
    a, b, c = (str(tmp_path / m) for m in ("local", "waves", "added"))
    kw = dict(text_col="text", doc_id_col="doc_id", n_segments=2)
    build_index(spark, long_corpus, a, **kw)
    build_index(spark, long_corpus, b, waves=2, **kw)
    build_index(spark, long_corpus.where("doc_id < 2"), c, **kw)
    add_batch(spark, long_corpus.where("doc_id >= 2"), c,
              text_col="text", doc_id_col="doc_id")
    cols = ["docId", "dl", "norm_byte", "dl_q", "content_sha"]
    stats, posts = [], []
    for d in (a, b, c):
        stats.append(sorted(map(tuple, spark.read.parquet(f"{d}/docstats")
                                .select(cols).collect())))
        posts.append(_decoded_postings(spark, d))
    assert len(stats[0]) == 4 and stats[0] == stats[1] == stats[2]
    assert posts[0] and posts[0] == posts[1] == posts[2]
    sa = spark.read.parquet(f"{a}/docstats").select("docId", "dl")
    # the long doc's dl counts the SPLIT tokens
    dl0 = dict(map(tuple, sa.collect()))[0]
    assert dl0 == len(tokenize(f"intro {'q' * 300} world hash join"))
    ea, eb, ec = (SearchEngine(spark, d, corpus=long_corpus,
                               text_field="text", doc_id_col="doc_id")
                  for d in (a, b, c))
    from opensearch_spark.search import dsl as dsl_mod

    for q in ({"match": {"text": "hash join"}},
              {"match": {"text": "q" * 300}},
              {"match_phrase": {"text": f"{'q' * 300} world"}}):
        ra, rb, rc = (
            sorted((int(r["docId"]), round(float(r["score"]), 6))
                   for r in e.compile(dsl_mod.parse(q)).collect())
            for e in (ea, eb, ec))
        assert ra == rb == rc and ra, q
    # a >255-char query term splits query-side and matches both chunks
    hits = {int(r["docId"])
            for r in ea.compile(dsl_mod.parse(
                {"match": {"text": {"query": "q" * 300,
                                    "operator": "and"}}})).collect()}
    assert hits == {0, 2}
    # phrase spanning the split chunks matches only the doc where the
    # chunks are followed by 'world'
    ph = {int(r["docId"])
          for r in ea.compile(dsl_mod.parse(
              {"match_phrase": {"text": f"{'q' * 300} world"}})).collect()}
    assert ph == {0}


def test_docs_only_source_verify_splits_long_tokens(spark, long_corpus,
                                                    tmp_path):
    out = str(tmp_path / "mot")
    build_index(spark, long_corpus, out, text_col="text",
                doc_id_col="doc_id", n_segments=2,
                index_options="docs")
    eng = SearchEngine(spark, out, corpus=long_corpus, text_field="text",
                       doc_id_col="doc_id")
    got = {int(r["docId"])
           for r in eng.search({"match_phrase":
                                {"text": f"{'q' * 300} world"}},
                               k=10).collect()}
    assert got == {0}


def test_saty_shingle_grams_drop_oversized(spark):
    """search_as_you_type shingle grams built from 255-char split
    chunks would exceed max_token_length and get re-split at index
    time; both the column expression and the oracle drop them
    instead (review r5)."""
    import __spark_entry__ as entry

    df = spark.createDataFrame(
        [("alpha " + "q" * 300 + " omega end",)], "text string")
    out = df.select(
        F.expr(entry._SATY_TOKS).alias("toks"),
        F.expr(entry._saty_shingle_expr(2, toks=entry._SATY_TOKS))
        .alias("grams"),
    ).collect()[0]
    # tokens: alpha, q*255, q*45, omega, end
    assert out["toks"] == tokenize("alpha " + "q" * 300 + " omega end")
    grams = out["grams"].split(" ")
    # 'q*255_q*45' (301 chars) and 'alpha_q*255' (261) are dropped;
    # every surviving gram re-tokenizes to itself (no 255 split)
    assert all(len(g) <= 255 for g in grams)
    assert f"{'q' * 45}_omega" in grams and "omega_end" in grams
    assert not any(len(g) > 255 for g in grams)
    for g in grams:
        assert tokenize(g) == [g]
