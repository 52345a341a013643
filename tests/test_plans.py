"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plans — term filters pushed into the
parquet scan (row-group skipping), broadcast on the fetch join, and
whole-stage codegen on the relational facade."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import build_index
from opensearch_spark.relational import queries as R
from opensearch_spark.search.engine import SearchEngine
from opensearch_spark.testing.corpus import generate_corpus


def plan_str(df) -> str:
    return df._jdf.queryExecution().toString()


def executed_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    corpus = spark.createDataFrame(generate_corpus(300, seed=42))
    out = str(tmp_path_factory.mktemp("plans") / "ix")
    build_index(spark, corpus, out, n_segments=4)
    return SearchEngine(spark, out, corpus=corpus)


def test_term_filter_pushed_to_postings_scan(engine):
    df = engine._postings_for(["def", "return"])
    p = plan_str(df)
    assert "PushedFilters" in p
    # the In/EqualTo on term must reach the scan, not sit in a Filter above it
    assert "term" in p.split("PushedFilters")[1][:200], p[:2000]


def test_fetch_join_is_broadcast(engine, spark_path):
    hits = engine.search({"match": {"content": "def"}}, k=5)
    p = executed_str(engine.fetch(hits))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


@pytest.fixture(scope="module")
def parquet_engine(spark, tmp_path_factory):
    """An engine whose corpus is a parquet scan (a fetch is a real job)."""
    root = tmp_path_factory.mktemp("plans_pq")
    spark.createDataFrame(generate_corpus(300, seed=42)).write.parquet(
        str(root / "corpus"))
    corpus = spark.read.parquet(str(root / "corpus"))
    build_index(spark, corpus, str(root / "ix"), n_segments=4)
    return SearchEngine(spark, str(root / "ix"), corpus=corpus)


def test_request_fetch_is_bounded(parquet_engine, tier):
    """A request's fetch sorts its at most `size` hits in one bounded
    TakeOrderedAndProject: no range-partition Exchange (and its sampling
    job). On the Spark path the hits stay a broadcast join; driver-local
    hits are fetched in the driver into a LocalTableScan, with no
    Exchange at all."""
    body = {"query": {"match": {"content": "def"}}, "size": 5, "_source": ["path"]}
    tier(False)
    p = executed_str(parquet_engine.request(body)["hits"])
    assert "BroadcastHashJoin" in p, p
    assert "rangepartitioning" not in p, p
    assert "TakeOrdered" in p, p
    tier(True)
    p = executed_str(parquet_engine.request(body)["hits"])
    assert "Exchange" not in p, p
    assert "LocalTableScan" in p, p


def test_driver_tier_job_counts(spark, parquet_engine, jobs, tier):
    """A driver-local search runs no Spark job, a fresh engine's first
    included (its term dictionary and postings are read with pyarrow).
    A driver-local request with _source runs exactly one on a fresh
    engine (the fetch's docId map) and none once the map exists; nor
    does one with highlight (its fragments are made in the driver, not
    by a UDF)."""
    tier(True)
    q = {"match": {"content": "def return"}}
    n, rows = jobs(lambda: SearchEngine(spark, parquet_engine.paths.root)
                   .search(q, k=5).collect())
    assert n == 0 and len(rows) == 5
    n, rows = jobs(lambda: parquet_engine.search(q, k=5).collect())
    assert n == 0 and len(rows) == 5
    fresh = SearchEngine(spark, parquet_engine.paths.root,
                         corpus=parquet_engine._corpus_scan)
    body = {"query": q, "size": 5, "_source": ["path"]}
    for eng, want in ((fresh, 1), (fresh, 0), (parquet_engine, 0)):
        n, rows = jobs(lambda: eng.request(body)["hits"].collect())
        assert n == want and len(rows) == 5
    hl = {**body, "highlight": {"fields": {"content": {}}}}
    n, rows = jobs(lambda: fresh.request(hl)["hits"].collect())
    assert n == 0 and len(rows) == 5 and all(r["highlights"] for r in rows)
    tier(False)
    n, _ = jobs(lambda: parquet_engine.search(q, k=5).collect())
    assert n >= 1


def test_profile_reports_path(parquet_engine, tier):
    """``path`` says which tier answered; a tier request's ``render``
    says whether DataFrame post-processing ran over its rows: none for
    hits, a ``_source`` selection or highlight, some for a derived
    field (a Spark SQL expression)."""
    q = {"match": {"content": "def"}}
    tier(True)
    prof = parquet_engine.request({"query": q, "size": 3, "profile": True})["profile"]
    assert prof["query"]["path"] == "driver" and prof["query"]["render"] == "driver"
    assert "LocalTableScan" in prof["query"]["plan"]
    for extra, render in (({"_source": ["path"]}, "driver"),
                          ({"highlight": {"fields": {"content": {}}}}, "driver"),
                          ({"derived": {"plen": "length(path)"}}, "spark")):
        prof = parquet_engine.request({"query": q, "size": 3, "profile": True,
                                       **extra})["profile"]["query"]
        assert (prof["path"], prof["fetch"], prof["render"]) == ("driver", "driver", render)
    rescored = parquet_engine.request({
        "query": q, "size": 3, "profile": True,
        "rescore": {"window_size": 5, "query": {
            "rescore_query": {"match": {"content": "return"}}}}})["profile"]
    assert rescored["query"]["path"] == "spark"
    tier(False)
    prof = parquet_engine.request({"query": q, "size": 3, "profile": True})["profile"]
    assert prof["query"]["path"] == "spark"


def test_relational_pushdown_and_codegen(spark, sf_dir):
    df = R.q_term_filter(spark, sf_dir)
    p = plan_str(df)
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters")[1][:300]
    assert "l_returnflag" in pushed or "l_quantity" in pushed, pushed
    ex = executed_str(df)
    assert "WholeStageCodegen" in ex or "*(" in ex  # *(n) = codegen stage


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = R.q_prefix_like(spark, sf_dir)
    p = plan_str(df)
    # ReadSchema must not include unprojected columns
    read = p.split("ReadSchema")[1][:300]
    assert "p_partkey" in read and "p_name" in read
    assert "p_retailprice" not in read and "p_brand" not in read


def test_aggregation_is_partial_final(spark, sf_dir):
    p = executed_str(R.q_terms_agg(spark, sf_dir))
    # partial (map-side) + final hash aggregation
    assert p.count("HashAggregate") >= 2 or p.count("hashAggregate") >= 2


def test_docstats_scan_prunes_termvec_column(engine):
    # docstats reads must never touch posting binaries
    p = plan_str(engine.docstats.select("docId", "dl"))
    read = p.split("ReadSchema")[1][:200]
    assert "doc_bytes" not in read and "_tv" not in read


def test_local_index_build_is_zero_shuffle(spark, sf_dir):
    """The default (segment-local) build plan must contain NO Exchange:
    tokenize+pack runs where the corpus rows already are (the Lucene
    shard-local write model). Data movement = none."""
    import os

    from pyspark.sql import functions as F

    from opensearch_spark.analysis.analyzer import duckdb_tokens_expr
    from opensearch_spark.index.build import POSTINGS_SCHEMA, _local_index_fn

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    prepared = (
        docs.withColumn("docId", F.col("doc_id").cast("long"))
        .withColumn("content_sha", F.sha2(F.col("text").cast("string"), 256))
        .select("docId", "content_sha", F.col("text").alias("content"))
        .withColumn("seg", F.spark_partition_id())
    )
    packed = prepared.mapInArrow(
        _local_index_fn(128, "/tmp/zs_docstats", duckdb_tokens_expr("standard")),
        schema=POSTINGS_SCHEMA,
    ).sortWithinPartitions("term", "block_no")
    p = packed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    # the UDF must also actually RUN (guards against signature drift
    # that a lazy plan-string inspection would miss)
    assert packed.limit(1).count() >= 0


def test_bool_search_has_no_docid_shuffle(engine, spark_path):
    """search(k) and compile() over a bool of match/phrase leaves run
    ONE per-segment program scorer — no per-clause union +
    groupBy(docId) aggregation shuffle (that path is reserved for bools
    with other leaf kinds)."""
    df = engine.search({
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "should": [{"match": {"content": "return"}}],
        }
    }, k=10)
    p = executed_str(df)
    assert "HashAggregate" not in p, p
    assert "FlatMapGroupsInPandas" in p
    assert "TakeOrdered" in p

    # compile() (every matching doc, no top-k) of a bool over match,
    # phrase and sloppy-phrase leaves is the same single program scorer
    from opensearch_spark.search import dsl

    node = dsl.parse({
        "bool": {
            "must": [{"match": {"content": "def"}}],
            "should": [
                {"match_phrase": {"content": "return self"}},
                {"match_phrase": {"content": {"query": "import os", "slop": 2}}},
            ],
        }
    })
    p = executed_str(engine.compile(node))
    assert "HashAggregate" not in p, p
    assert p.count("FlatMapGroupsInPandas") == 1, p


def test_count_match_uses_no_scorer(engine):
    """count() answers single-term matches from termstats (no postings
    decode at all)."""
    n1 = engine.count({"match": {"content": "def"}})
    assert n1 == engine.compile(
        __import__("opensearch_spark.search.dsl", fromlist=["parse"]).parse(
            {"match": {"content": "def"}}
        )
    ).count()


def optimized_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _cosine_above_join(df) -> None:
    """The exact-cosine projection (references the broadcast query
    vector qv) must be an ANCESTOR of the candidate join — i.e. cosine
    is computed only on candidate rows, never projected over the full
    embeddings scan (the round-2 'ANN defeats its own pruning' defect)."""
    lines = optimized_str(df).splitlines()
    cos_i = next(
        i for i, ln in enumerate(lines)
        if "aggregate(zip_with" in ln and "qv" in ln
    )
    join_i = next(i for i, ln in enumerate(lines) if "Join" in ln)
    assert cos_i < join_i, "\n".join(lines[:20])


def test_lsh_ann_cosine_only_on_candidates(spark, sf_dir):
    from opensearch_spark.pipelines import similarity as S

    _cosine_above_join(S.lsh_ann(spark, sf_dir))


def test_ivf_ann_cosine_only_on_candidates(spark, sf_dir):
    from opensearch_spark.pipelines import similarity as S

    _cosine_above_join(S.ivf_ann(spark, sf_dir))


def test_lsh_buckets_zero_shuffle(spark, sf_dir):
    """Signature computation is one map-only projection: literal sign
    arrays folded against the vector — no explode/join/Exchange."""
    from opensearch_spark.pipelines import similarity as S

    p = executed_str(S.lsh_buckets(spark, sf_dir))
    assert "Exchange" not in p, p
    assert "Generate" not in p, p  # no posexplode


def test_ivf_assign_zero_shuffle(spark, sf_dir):
    """Centroid argmax is array_min over literal centroid structs — no
    per-vec_id window shuffle."""
    from opensearch_spark.pipelines import similarity as S

    p = executed_str(S.ivf_assign(spark, sf_dir))
    assert "Exchange" not in p, p
    assert "Window" not in p, p


def test_deep_pagination_is_bounded(engine, spark_path):
    """from_ > 0 compiles to TakeOrderedAndProject(offset) — no global
    row_number window funnelling the matched set through one task."""
    df = engine.search({"match": {"content": "def"}}, k=5, from_=7)
    p = executed_str(df)
    assert "Window" not in p, p
    assert "TakeOrdered" in p, p


def test_repeated_idf_lookup_runs_no_job(spark, engine, jobs):
    """Serving path: the first query loads the term->df map from the
    termstats files with pyarrow; IDF resolution, for the first term
    and for NEW terms after it, is a driver dict lookup — no Spark job
    per query (the broadcast-termstats analog)."""
    fresh = SearchEngine(spark, engine.paths.root)
    n, _ = jobs(lambda: fresh._idfs(["def"]))  # triggers the one-time full load
    assert n == 0 and isinstance(fresh._term_df_map, dict)
    n, out = jobs(lambda: fresh._idfs(["return", "zzz_not_in_index"]))
    assert n == 0
    assert set(out) == {"return"}  # an unknown term is absent
    assert fresh._dfs(["return"]).get("return", 0) > 0
    assert out == engine._idfs(["return", "zzz_not_in_index"])


def test_geoip_is_broadcast_equi_join(spark):
    """geoip lookup must compile to a BroadcastHashJoin on the /16
    prefix — never a BroadcastNestedLoopJoin range join."""
    from opensearch_spark.pipelines.enrich import geoip

    db = spark.createDataFrame(
        [("10.0.0.0", "10.0.255.255", "US")],
        "ip_from string, ip_to string, country string")
    docs = spark.createDataFrame([(1, "10.0.1.2")], "id long, ip string")
    p = executed_str(geoip(docs, "ip", db))
    assert "BroadcastHashJoin" in p, p
    assert "NestedLoop" not in p, p


def test_line_dedup_has_partial_aggregation(spark):
    """The per-line doc-count groupBy must partial-aggregate map-side
    (hot boilerplate lines are the skewed keys)."""
    from opensearch_spark.pipelines.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a"])], "doc_id long, lines array<string>")
    p = executed_str(line_dedup(df))
    assert "partial_count(distinct" in p, p


def test_cached_serving_query_is_shuffle_free(spark, tmp_path, spark_path):
    """Round-4 serving-plan contract: with cache=True the postings are
    persisted pre-partitioned on seg, so a query executes as ONE
    shuffle-free stage — no Exchange in the executed plan (the only
    Exchange lives inside the one-time cache-build lineage)."""
    corpus = spark.createDataFrame(generate_corpus(300, seed=9))
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_segments=4)
    eng = SearchEngine(spark, out, corpus=corpus, cache=True)
    eng.search({"match": {"content": "def"}}, k=5).collect()  # materialize
    for q in ({"match": {"content": "def return"}},
              {"match_phrase": {"content": "def main"}},
              {"bool": {"must": [{"match": {"content": "def"}}],
                        "must_not": [{"match": {"content": "import"}}]}}):
        df = eng.search(q, k=5)
        df.collect()
        final = executed_str(df).split("== Initial Plan ==")[0]
        # the InMemoryRelation block embeds its own build plan (which
        # legitimately contains the one-time repartition Exchange);
        # strip it before asserting the QUERY plan is exchange-free
        query_part = final.split("InMemoryRelation")[0]
        assert "Exchange" not in query_part, query_part
        assert "InMemoryTableScan" in final


def test_range_field_filter_pushes_to_scan(spark, sf_dir):
    """Range-field relation predicates are plain Catalyst comparisons
    over scan columns — the shipdate bound must reach PushedFilters."""
    df = R._lineitem_range_matches(
        R._t(spark, sf_dir, "lineitem"), "within")
    p = plan_str(df)
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:300], p[:3000]


def test_curation_funnel_is_one_scan_one_shuffle(spark, sf_dir):
    """The composed curation funnel (quality -> dedup keep-one ->
    hash sample) must stay ONE scan + ONE exchange: the quality
    predicate is map-side, the keep-one is a sha2-partitioned window,
    the sample threshold is a codegen filter. A groupBy + join-back
    keep-one (3 exchanges) or a quality self-join regressing in would
    triple the shuffle volume at 100 TB."""
    from opensearch_spark.pipelines.sampling import curation_funnel

    df = curation_funnel(spark, sf_dir)
    p = executed_str(df)
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "BroadcastExchange" not in final, final
    assert final.count("FileScan parquet") <= 1 or \
        final.count("Scan parquet") <= 1, final
