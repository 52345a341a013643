"""The manifest is the index's one commit point.

- A write that fails at any of its write steps leaves a freshly opened
  engine on exactly the pre-state (ranked results, manifest counts,
  docstats rows); rerunning it gives exactly the state of an
  uninterrupted run.
- After every successful write the table directories hold only files
  that the manifest or a retained PIT lists.
- An engine left open (``cache=True``) during later writes does not
  leak its view into them.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import InjectedFault, count_jobs
from opensearch_spark.index.build import build_index, by_seg, prepare
from opensearch_spark.index.incremental import add_batch, compact_index, upsert_batch
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus

QUERIES = [
    {"match": {"content": "def return import"}},
    {"match": {"content": {"query": "data load", "operator": "and"}}},
    {"match_phrase": {"content": "public static"}},
    {"bool": {"must": [{"match": {"content": "class"}}],
              "should": [{"match": {"content": "import"}}]}},
]
TABLES = ("postings", "docstats", "termstats", "deletes")
ID_COLS = ("repo", "path", "commit")


def manifest(root):
    with open(os.path.join(root, "manifest.json")) as f:
        return json.load(f)


def state(spark, root):
    """What a freshly opened engine serves."""
    eng = SearchEngine(spark, root)
    m = eng.globals
    counts = {k: m.get(k, 1) for k in ("doc_count", "field_doc_count", "sum_ttf",
                                       "avgdl", "n_segments", "generations")}
    ranked = [[(int(r["docId"]), round(float(r["score"]), 9))
               for r in eng.search(q, k=15).collect()] for q in QUERIES]
    return counts, eng.docstats.count(), ranked


def assert_only_listed(root):
    """Every file under the table directories is listed by the manifest
    or by a retained PIT record."""
    listed = {t: set(manifest(root)["files"][t]) for t in TABLES}
    for rec in glob.glob(os.path.join(root, "pits", "*", "manifest.json")):
        with open(rec) as f:
            pit = json.load(f)["files"]
        for t in TABLES:
            listed[t].update(pit.get(t, ()))
    for t in TABLES:
        for d, _, files in os.walk(os.path.join(root, t)):
            for f in files:
                rel = os.path.relpath(os.path.join(d, f), os.path.join(root, t))
                assert rel in listed[t], f"{t}/{rel} is not listed"


@pytest.fixture(scope="module")
def docs(spark):
    pdf = generate_corpus(110, seed=19)
    base = spark.createDataFrame(pdf.iloc[:80])
    batch = spark.createDataFrame(pdf.iloc[80:100])
    # upsert: two existing docs rewritten (one drops every query term)
    # plus one new doc
    changed = pdf.iloc[[3, 7, 105]].copy()
    changed["content"] = ["replaced body", "def return import data load", "class import"]
    return base, batch, spark.createDataFrame(changed)


def _write(root, fn, check=True):
    fn()
    if check:
        assert_only_listed(root)


def _setup(spark, docs, root, kind, check=True):
    base, batch, _ = docs
    _write(root, lambda: build_index(spark, base, root, n_segments=4), check)
    if kind.startswith("compact"):
        _write(root, lambda: add_batch(spark, batch, root), check)
    if kind == "compact_tombstones":
        eng = SearchEngine(spark, root)
        ids = [int(r["docId"]) for r in eng.search(QUERIES[0], k=4).collect()]
        _write(root, lambda: eng.delete(ids), check)


def _op(spark, docs, kind):
    _, batch, changed = docs
    return {
        "add_batch": lambda root: add_batch(spark, batch, root),
        "upsert_batch": lambda root: upsert_batch(spark, changed, root),
        "compact": lambda root: compact_index(spark, root),
        "compact_target": lambda root: compact_index(spark, root, target_segments=2),
        "compact_tombstones": lambda root: compact_index(spark, root),
        "delete_by_query": lambda root: SearchEngine(spark, root).delete_by_query(
            {"match_phrase": {"content": "public static"}}),
    }[kind]


@pytest.mark.parametrize("kind", [
    "add_batch", "upsert_batch", "compact", "compact_target",
    "compact_tombstones", "delete_by_query",
])
def test_failed_write_leaves_pre_state(spark, docs, tmp_path, fail_nth_write, kind):
    op = _op(spark, docs, kind)
    ref, work = str(tmp_path / "ref"), str(tmp_path / "work")
    _setup(spark, docs, work, kind, check=False)
    pre = state(spark, work)
    n = 1
    while True:
        fail_nth_write(n)
        try:
            op(work)
        except InjectedFault:
            pass
        else:
            break
        finally:
            fail_nth_write(0)
        assert state(spark, work) == pre, f"write {n} failed"
        n += 1
    assert n > 2, "the write should have at least two steps"
    assert_only_listed(work)
    _setup(spark, docs, ref, kind)
    _write(ref, lambda: op(ref))
    want = state(spark, ref)
    assert want != pre
    assert state(spark, work) == want


def test_failed_wave_build_resumes(spark, docs, tmp_path, fail_nth_write):
    """A waves=4 build failing at each write step in turn serves nothing,
    and resuming it gives the uninterrupted build."""
    base = docs[0]
    ref, work = str(tmp_path / "ref"), str(tmp_path / "work")
    _write(ref, lambda: build_index(spark, base, ref, n_segments=4, waves=4))
    want = state(spark, ref)
    n = 1
    while True:
        fail_nth_write(n)
        try:
            build_index(spark, base, work, n_segments=4, waves=4)
        except InjectedFault:
            pass
        else:
            break
        finally:
            fail_nth_write(0)
        with pytest.raises((ValueError, FileNotFoundError)):
            SearchEngine(spark, work)
        _write(work, lambda: build_index(spark, base, work, n_segments=4,
                                         waves=4, overwrite=False))
        assert state(spark, work) == want, f"write {n} failed"
        n += 1
    assert n > 8  # 4 waves x (postings + publish) + termstats + publish


def test_cached_engine_does_not_leak_into_writes(spark, tmp_path):
    """A cache=True engine open across add_batch (20 docs) and
    upsert_batch (1 doc) of a 40-doc index: the manifest and docstats
    count the 60 live docs."""
    pdf = generate_corpus(60, seed=29)
    out = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pdf.iloc[:40]), out, n_segments=4)
    eng = SearchEngine(spark, out, cache=True)
    assert eng.search(QUERIES[0], k=5).collect()
    add_batch(spark, spark.createDataFrame(pdf.iloc[40:]), out)
    up = pdf.iloc[[2]].copy()
    up["content"] = ["rewritten body"]
    upsert_batch(spark, spark.createDataFrame(up), out)
    fresh = SearchEngine(spark, out)
    assert manifest(out)["doc_count"] == 60
    assert fresh.docstats.count() == 60
    eng.close()


def test_by_seg_maps_partitions_to_segments(spark):
    """by_seg puts each segment in its own partition: spark_partition_id
    and seg are a bijection, for all segments and for a wave's subset."""
    corpus = spark.createDataFrame(generate_corpus(800, seed=5))
    prepared = prepare(corpus, "content", ID_COLS, None)
    for segs, n in ((None, 8), ([1, 5, 6], 3)):
        pairs = (by_seg(prepared, 8, segs)
                 .select(F.spark_partition_id().alias("p"), "seg")
                 .distinct().collect())
        assert len(pairs) == n
        assert len({r["p"] for r in pairs}) == n
        assert len({r["seg"] for r in pairs}) == n


def test_engine_open_runs_no_listing_job(spark, tmp_path):
    """An engine over more than 32 postings files opens without a Spark
    job (the listed files are read through one directory listing)."""
    pdf = generate_corpus(120, seed=31)
    out = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pdf.iloc[:20]), out, n_segments=8)
    for i in range(5):
        add_batch(spark, spark.createDataFrame(pdf.iloc[20 + 20 * i:40 + 20 * i]), out)
    assert len(manifest(out)["files"]["postings"]) > 32
    jobs, eng = count_jobs(spark, lambda: SearchEngine(spark, out))
    assert jobs == 0
    assert eng.globals["doc_count"] == 120


def test_retired_table_in_manifest_and_pit(spark, tmp_path):
    """An index whose manifest and PIT record list the retired
    ``wildgrams`` table (written before it was removed) opens and
    searches, on the latest commit and on the PIT; the next write
    publishes over it, drops the table from the manifest and deletes
    its files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_corpus(60, seed=5)
    root = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pdf.iloc[:50]), root, n_segments=2)
    pit = SearchEngine(spark, root).open_pit()
    os.makedirs(os.path.join(root, "wildgrams"))
    pq.write_table(pa.table({"term": ["def"], "gram": ["^de"]}),
                   os.path.join(root, "wildgrams", "part-0.parquet"))
    for rec, names in ((os.path.join(root, "manifest.json"), ["part-0.parquet"]),
                       (os.path.join(root, "pits", pit["pit_id"], "manifest.json"), [])):
        with open(rec) as f:
            m = json.load(f)
        m["files"]["wildgrams"] = names
        with open(rec, "w") as f:
            json.dump(m, f)
    want = [r["docId"] for r in SearchEngine(spark, root).search(QUERIES[0], k=5).collect()]
    assert want
    pinned = SearchEngine(spark, root, pit=pit)
    add_batch(spark, spark.createDataFrame(pdf.iloc[50:]), root)
    assert "wildgrams" not in manifest(root)["files"]
    assert not os.listdir(os.path.join(root, "wildgrams"))
    assert_only_listed(root)
    assert SearchEngine(spark, root).globals["doc_count"] == 60
    assert [r["docId"] for r in pinned.search(QUERIES[0], k=5).collect()] == want
