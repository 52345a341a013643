"""Incremental ingest, compaction, kill-and-rerun resume, streaming.

The key contracts:
- incremental add_batch over A then B produces search results EQUAL to a
  full rebuild over A ∪ B (global df/avgdl updated; multi-generation
  decode merge-sorts correctly)
- compaction folds generations without changing any result
- a build killed mid-wave resumes from the manifest's wave record and
  produces content-identical index tables without re-tokenizing
  completed waves
- the Structured Streaming file-source path bootstraps + appends
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import IndexPaths, build_index
from opensearch_spark.index.incremental import add_batch, compact_index
from opensearch_spark.index.manifest import read_table
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

QUERIES = [
    {"match": {"content": "def return import"}},
    {"match": {"content": {"query": "data load", "operator": "and"}}},
    {"match_phrase": {"content": "public static"}},
    {
        "bool": {
            "must": [{"match": {"content": "class"}}],
            "should": [{"match": {"content": "import"}}],
        }
    },
]


def results(engine, k=15):
    out = {}
    for i, q in enumerate(QUERIES):
        out[i] = [
            (int(r["docId"]), round(float(r["score"]), 9))
            for r in engine.search(q, k=k).collect()
        ]
    return out


@pytest.fixture(scope="module")
def corpora(spark):
    pdf = generate_corpus(500, seed=42)
    a = spark.createDataFrame(pdf.iloc[:320])
    b = spark.createDataFrame(pdf.iloc[320:])
    full = spark.createDataFrame(pdf)
    return a, b, full


def test_incremental_equals_full_rebuild(spark, corpora, tmp_path):
    a, b, full = corpora
    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_index(spark, a, inc_dir, n_segments=4)
    add_batch(spark, b, inc_dir)
    build_index(spark, full, full_dir, n_segments=4)

    e_inc = SearchEngine(spark, inc_dir)
    e_full = SearchEngine(spark, full_dir)
    assert abs(e_inc.avgdl - e_full.avgdl) < 1e-9
    assert e_inc.doc_count == e_full.doc_count
    r_inc, r_full = results(e_inc), results(e_full)
    assert r_inc == r_full

    # compaction changes nothing observable
    m = compact_index(spark, inc_dir)
    assert m["generations"] == 1
    e_c = SearchEngine(spark, inc_dir)
    assert results(e_c) == r_full

    # compacted postings have one sorted run per (seg, term)
    p = e_c.postings
    bad = (
        p.groupBy("seg", "term", "block_no").count().where(F.col("count") > 1).count()
    )
    assert bad == 0


def test_kill_and_rerun_resume(spark, corpora, tmp_path, fail_nth_write):
    _, _, full = corpora
    ref_dir = str(tmp_path / "ref")
    # reference = SAME config (waves=4), never killed: the invariant is
    # kill+resume == uninterrupted run. (A waves=1 build's seg ids are
    # partition ids, so its table layout legitimately differs; search
    # results stay identical.)
    build_index(spark, full, ref_dir, n_segments=8, waves=4)

    # crash the build after wave 0 commits (injected failure = kill):
    # wave 0 is one postings write and one manifest publish, so the
    # third write is wave 1's postings
    kill_dir = str(tmp_path / "killed")
    fail_nth_write(3)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, full, kill_dir, n_segments=8, waves=4)
    fail_nth_write(0)
    with open(IndexPaths(kill_dir).manifest) as f:
        build = json.load(f)["build"]
    assert build["waves_done"] == [0] and not build["done"]
    with pytest.raises(ValueError, match="unfinished build"):
        SearchEngine(spark, kill_dir)

    # rerun resumes (overwrite=False honors the lineage) and must NOT
    # index the finished wave again: poison exactly wave 0's docs
    # (seg = pmod(docId, 8), wave = seg % 4) — re-tokenizing them would
    # index "poison" and break the table identity below
    seg = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(8))
    poisoned = full.withColumn(
        "content",
        F.when(seg % 4 == 0, F.lit("poison")).otherwise(F.col("content")))
    build_index(spark, poisoned, kill_dir, n_segments=8, waves=4, overwrite=False)

    e_ref = SearchEngine(spark, ref_dir)
    e_res = SearchEngine(spark, kill_dir)
    assert results(e_res) == results(e_ref)

    # content-identical index tables (order-insensitive)
    for tbl in ("postings", "docstats", "termstats"):
        a, b = (read_table(spark, e.paths, tbl, e.globals["files"][tbl])
                for e in (e_ref, e_res))
        ka = a.select(sorted(a.columns)).exceptAll(b.select(sorted(b.columns))).count()
        kb = b.select(sorted(b.columns)).exceptAll(a.select(sorted(a.columns))).count()
        assert ka == 0 and kb == 0, tbl


def test_overwrite_replaces_finished_index(spark, tmp_path):
    """overwrite=True starts from an empty directory even when out_dir
    holds a finished build with the same n_segments/waves."""
    out = str(tmp_path / "ix")
    schema = "doc_id long, text string"
    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta alpha")], schema)
    new = spark.createDataFrame([(7, "omega"), (8, "omega psi")], schema)
    for corpus in (old, new):
        build_index(spark, corpus, out, text_col="text", doc_id_col="doc_id",
                    n_segments=2)
    eng = SearchEngine(spark, out, corpus=new, text_field="text",
                       doc_id_col="doc_id")
    assert eng.doc_count == 2
    assert {int(r["docId"]) for r in
            eng.search({"match": {"text": "omega"}}, k=10).collect()} == {7, 8}
    assert eng.search({"match": {"text": "alpha"}}, k=10).collect() == []


def test_add_batch_honours_docs_only_index_options(spark, tmp_path):
    """add_batch writes with the index's own index_options: a docs-only
    index stays docs-only (tf 1, no positions) in later generations."""
    out = str(tmp_path / "mot")
    schema = "doc_id long, text string"
    build_index(spark, spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "gamma")], schema), out,
        text_col="text", doc_id_col="doc_id", n_segments=2,
        index_options="docs")
    add_batch(spark, spark.createDataFrame([(9, "rho rho rho sigma")], schema),
              out, text_col="text", doc_id_col="doc_id")
    added = ("rho", "sigma")
    post = spark.read.parquet(os.path.join(out, "postings")).where(
        F.col("term").isin(*added))
    assert post.agg(F.max("max_tf")).first()[0] == 1
    ts = spark.read.parquet(os.path.join(out, "termstats")).where(
        F.col("term").isin(*added)).collect()
    assert sorted(r["term"] for r in ts) == list(added)
    assert all(r["ttf"] == r["df"] for r in ts)


def test_add_batch_refuses_indexed_doc_ids(spark, tmp_path, tier):
    """add_batch only creates documents: a docId the index holds (live
    or tombstoned) or one repeated within the batch is refused before
    anything is written. On a valid multi-generation index every search
    then returns each docId at most once, on the driver tier and on the
    Spark plan."""
    from opensearch_spark.index.manifest import read_manifest

    schema = "doc_id long, text string"
    out = str(tmp_path / "ix")
    kw = dict(text_col="text", doc_id_col="doc_id")

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    build_index(spark, batch([(i, f"alpha beta w{i}") for i in range(1, 9)]),
                out, n_segments=4, **kw)
    add_batch(spark, batch([(11, "alpha gamma"), (12, "beta gamma alpha")]), out, **kw)
    SearchEngine(spark, out, text_field="text").delete([3])
    before = read_manifest(out)
    for rows, dup in (([(20, "alpha"), (5, "alpha beta")], 5),      # live, first build
                      ([(21, "gamma"), (12, "beta")], 12),          # live, second generation
                      ([(22, "gamma"), (3, "alpha beta")], 3),      # tombstoned
                      ([(23, "alpha"), (23, "beta gamma")], 23)):   # repeated in the batch
        with pytest.raises(ValueError, match=f"docId {dup} occurs 2 times.*upsert_batch"):
            add_batch(spark, batch(rows), out, **kw)
        assert read_manifest(out) == before

    add_batch(spark, batch([(30, "alpha beta gamma"), (31, "alpha alpha w2")]), out, **kw)
    eng = SearchEngine(spark, out, text_field="text")
    queries = [{"match": {"text": "alpha gamma w2"}},
               {"match": {"text": {"query": "alpha beta", "operator": "and"}}},
               {"match_phrase": {"text": "alpha beta"}},
               {"bool": {"must": [{"match": {"text": "alpha"}}],
                         "should": [{"match": {"text": "gamma"}}]}}]
    got = {}
    for on in (True, False):
        tier(on)
        got[on] = [[int(r["docId"]) for r in eng.search(q, k=50).collect()]
                   for q in queries]
        by_qid = {}
        for r in eng.msearch(queries, k=50).collect():
            by_qid.setdefault(int(r["qid"]), []).append(int(r["docId"]))
        assert [by_qid.get(i, []) for i in range(len(queries))] == got[on]
        for ids in got[on]:
            assert ids and len(ids) == len(set(ids)) and 3 not in ids
    assert got[True] == got[False]
    assert 30 in got[True][2] and 12 not in got[True][2]


def test_add_batch_check_shuffles_no_index_rows(spark, tmp_path):
    """add_batch's refusal of indexed docIds semi-joins the docstats ids
    against the broadcast batch ids: the index's side has no Exchange."""
    import re

    from opensearch_spark.index.build import prepare
    from opensearch_spark.index.incremental import _create_only
    from opensearch_spark.index.manifest import read_manifest, read_table

    out = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(generate_corpus(60, seed=3)), out,
                n_segments=4)
    ids = prepare(spark.createDataFrame(generate_corpus(10, seed=4)), "content",
                  ("repo", "path", "commit"), None).select("docId")
    _, indexed = _create_only(ids, read_table(
        spark, IndexPaths(out), "docstats", read_manifest(out)["files"]["docstats"]))
    p = indexed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert set(re.findall(r"\w*Exchange", p)) == {"BroadcastExchange"}, p


def test_tier_refuses_an_index_holding_a_doc_id_twice(spark, tmp_path, tier):
    """An index written before add_batch refused indexed docIds can hold
    one docId in two segments; the driver tier would sum or repeat its
    scores, so loading the resident table refuses it and names the id.
    upsert_batch of that document repairs the index."""
    from opensearch_spark.index.build import by_seg, prepare, write_segments
    from opensearch_spark.index.incremental import upsert_batch
    from opensearch_spark.index.manifest import publish, read_manifest

    schema = "doc_id long, text string"
    out = str(tmp_path / "ix")
    kw = dict(text_col="text", doc_id_col="doc_id")
    build_index(spark, spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(1, 9)], schema), out, n_segments=4, **kw)
    again = spark.createDataFrame([(5, "alpha beta"), (13, "alpha")], schema)
    m = read_manifest(out)
    publish(IndexPaths(out), write_segments(
        by_seg(prepare(again, "text", (), "doc_id"), m["n_segments"]), IndexPaths(out), m))
    tier(True)
    with pytest.raises(ValueError, match="docId 5 more than once.*upsert_batch"):
        SearchEngine(spark, out, text_field="text").search({"match": {"text": "alpha"}})
    upsert_batch(spark, spark.createDataFrame([(5, "alpha beta")], schema), out, **kw)
    ids = [r["docId"] for r in SearchEngine(spark, out, text_field="text").search(
        {"match": {"text": "alpha"}}, k=20).collect()]
    assert sorted(ids) == [1, 2, 3, 4, 5, 6, 7, 8, 13]


def test_streaming_file_source(spark, corpora, tmp_path):
    from opensearch_spark.streaming.ingest import start_indexing_stream

    a, b, full = corpora
    src = str(tmp_path / "src")
    ix = str(tmp_path / "stream_ix")
    cp = str(tmp_path / "cp")
    a.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(a.schema).parquet(src)
    q = start_indexing_stream(stream, ix, cp, n_segments=4)
    q.awaitTermination(120)

    e1 = SearchEngine(spark, ix)
    n1 = e1.doc_count

    # second batch arrives; availableNow restart picks up only new files
    b.write.mode("append").parquet(src)
    stream = spark.readStream.schema(a.schema).parquet(src)
    q = start_indexing_stream(stream, ix, cp, n_segments=4)
    q.awaitTermination(120)

    e2 = SearchEngine(spark, ix)
    assert e2.doc_count > n1

    full_dir = str(tmp_path / "stream_full")
    build_index(spark, full, full_dir, n_segments=4)
    e_full = SearchEngine(spark, full_dir)
    assert results(e2) == results(e_full)


def test_compact_target_segments(spark, corpora, tmp_path):
    """Segment-merge compaction (TieredMergePolicy analog): fewer, larger
    segments; search results unchanged."""
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.index.incremental import compact_index

    _, _, full = corpora
    d = str(tmp_path / "mergeix")
    build_index(spark, full, d, n_segments=8)
    e1 = SearchEngine(spark, d)
    q = {"match": {"content": "def return"}}
    before = [(int(r["docId"]), round(float(r["score"]), 9))
              for r in e1.search(q, k=20).collect()]

    m = compact_index(spark, d, target_segments=2)
    assert m["n_segments"] == 2
    e2 = SearchEngine(spark, d)
    segs = [r["seg"] for r in e2.postings.select("seg").distinct().collect()]
    assert sorted(segs) == [0, 1] or set(segs) <= {0, 1}
    after = [(int(r["docId"]), round(float(r["score"]), 9))
             for r in e2.search(q, k=20).collect()]
    assert after == before


def test_update_by_query(spark, tmp_path):
    """_update_by_query: matched docs rewritten in place (delete + re-add,
    the reference's own decomposition); unmatched docs untouched."""
    from opensearch_spark.index.build import build_index
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.testing.corpus import generate_corpus
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(generate_corpus(150, seed=51))
    out = str(tmp_path / "ubq")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    before_total = eng.docstats.count()
    n_match = eng.count({"match": {"content": "def"}})
    assert n_match > 0

    res = update_by_query(
        spark, eng, out, {"match": {"content": "def"}},
        {"content": "concat('zzzpatched ', content)"},
    )
    assert res["updated"] == n_match
    # reopen over the RETURNED corpus view so the doc store agrees with
    # the rewritten index (index and _source updated together)
    eng2 = SearchEngine(spark, out, corpus=res["corpus"],
                        doc_id_col="docId")
    assert eng2.count({"match": {"content": "zzzpatched"}}) == n_match
    # every patched doc still matches its old content too (prefix added)
    assert eng2.count({"match": {"content": "def"}}) == n_match
    # total live docs unchanged (update, not insert)
    assert eng2.docstats.count() == before_total
    # fetch returns the REWRITTEN source text, consistent with the index
    hit = eng2.request({"query": {"match": {"content": "zzzpatched"}},
                        "size": 1, "_source": ["content"]})
    assert hit["hits"].collect()[0]["content"].startswith("zzzpatched ")


def test_update_by_query_ctx_op_routing(spark, tmp_path):
    """ctx.op in a painless update script routes rows: 'delete'
    tombstones, 'noop' keeps the original and re-indexes nothing,
    'index' (default) applies the transform (reference: scripted
    update_by_query's per-row verdict)."""
    from opensearch_spark.index.build import build_index
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.testing.corpus import generate_corpus

    corpus = spark.createDataFrame(generate_corpus(150, seed=52))
    out = str(tmp_path / "ubqop")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    total = eng.docstats.count()
    matched = eng.search({"match": {"content": "def"}}, k=10000)
    m_ids = {int(r["docId"]) for r in matched.collect()}
    assert m_ids
    key_of = {int(r["docId"]): len(r["path"]) % 3
              for r in eng.corpus.select("docId", "path").collect()}

    res = update_by_query(
        spark, eng, out, {"match": {"content": "def"}},
        {"lang": "painless",
         "source": (
             "if (ctx._source.path.length() % 3 == 0) "
             "{ ctx.op = 'delete' } "
             "else if (ctx._source.path.length() % 3 == 1) "
             "{ ctx.op = 'noop' } else { ctx._source.content = "
             "ctx._source.content + ' zzzopmark'; }"),
         "params": {}},
    )
    want_del = {d for d in m_ids if key_of[d] == 0}
    want_noop = {d for d in m_ids if key_of[d] == 1}
    want_upd = m_ids - want_del - want_noop
    assert res["deleted"] == len(want_del)
    assert res["noops"] == len(want_noop)
    assert res["updated"] == len(want_upd)
    assert res["deleted"] > 0 and res["updated"] > 0

    eng2 = SearchEngine(spark, out, corpus=res["corpus"],
                        doc_id_col="docId")
    # deleted docs are gone from search; noop + updated remain
    assert eng2.count({"match": {"content": "def"}}) == \
        len(want_noop | want_upd)
    got_upd = {int(r["docId"]) for r in
               eng2.search({"match": {"content": "zzzopmark"}},
                           k=10000).collect()}
    assert got_upd == want_upd
    # corpus view drops exactly the deleted rows
    assert res["corpus"].count() == total - len(want_del)
    # noop docs keep their ORIGINAL content in the returned corpus
    if want_noop:
        d = next(iter(want_noop))
        old = corpus.where(F.col("repo").isNotNull()).join(
            eng.corpus.where(F.col("docId") == d).select("repo", "path"),
            ["repo", "path"]).collect()[0]["content"]
        new = res["corpus"].where(F.col("docId") == d).collect()[0]["content"]
        assert new == old and "zzzopmark" not in new


def test_update_by_query_ctx_op_rejects_null_and_bad_verdicts(spark,
                                                              tmp_path):
    """A NULL or unknown ctx.op verdict must raise, not silently drop
    the row from every route (review r5)."""
    import pytest

    from opensearch_spark.index.build import build_index
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search.engine import SearchEngine
    from opensearch_spark.testing.corpus import generate_corpus

    corpus = spark.createDataFrame(generate_corpus(60, seed=53))
    out = str(tmp_path / "ubqbad")
    build_index(spark, corpus, out, n_segments=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    for src in ("ctx.op = params.mode;",            # None -> NULL verdict
                "ctx.op = 'purge';"):               # unknown verdict
        with pytest.raises(ValueError, match="ctx.op"):
            update_by_query(
                spark, eng, out, {"match": {"content": "def"}},
                {"lang": "painless", "source": src,
                 "params": {"mode": None}})
    # zero-match queries return the full key set
    res = update_by_query(
        spark, eng, out, {"match": {"content": "zzznomatchzzz"}},
        {"lang": "painless", "source": "ctx.op = 'noop';"})
    assert res == {"updated": 0, "noops": 0, "deleted": 0,
                   "corpus": res["corpus"]}
