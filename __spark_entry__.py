"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface over the driver's
parquet tables at ``sf_dir``; ``oracle_sql()`` returns the DuckDB
equivalents (full-text oracles are generated by opensearch_spark.oracle_ft
from the same analyzer + quantization constants the engine uses).

Full-text queries run against a real inverted index built over the
``documents`` table (cached per sf_dir under .cache/). All scores are
round(.,4) on both sides; full-text queries return ALL matching docs so a
float tie cannot flip a top-k boundary.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

import opensearch_spark.oracle_ft as O
from opensearch_spark.analysis.analyzer import duckdb_tokens_expr
from opensearch_spark.index.build import build_index
from opensearch_spark.pipelines import dedup as _dd, multimodal as _mm, similarity as _sim
from opensearch_spark.pipelines import sampling as _smp
from opensearch_spark.pipelines import textstats as _ts
from opensearch_spark.pipelines.oracles import ORACLES as _P_ORACLES
from opensearch_spark.relational.oracles import ORACLES as _R_ORACLES
from opensearch_spark.relational.queries import REGISTRY as _R_QUERIES
from opensearch_spark.search.engine import SearchEngine

_P_QUERIES = {
    "d_exact_dedup": _dd.exact_dedup,
    "d_minhash_lsh": _dd.minhash_lsh_pairs,
    "d_dedup_clusters": _dd.dedup_clusters,
    "d_simhash": _dd.simhash,
    "d_simhash_pairs": _dd.simhash_pairs,
    "d_ngram_jaccard": _dd.ngram_jaccard_pairs,
    "t_contamination": _ts.contamination,
    "t_quality": _ts.quality_scores,
    "t_langid": _ts.language_id,
    "t_tokencount": _ts.token_counts,
    "t_fingerprint": _ts.fingerprints,
    "t_repetition": _ts.repetition_signals,
    "t_pii_redact": _ts.pii_scrub_demo,
    "d_dup_ngrams": _dd.dup_ngram_inventory,
    "d_line_dedup": _dd.line_dedup_demo,
    "p_domain_mix": _smp.domain_mix,
    "p_curation_funnel": _smp.curation_funnel,
    "d_embed_dup": _sim.embedding_dup_pairs,
    "d_semdedup": _sim.semdedup,
    "s_cosine_topk": _sim.cosine_scores,
    "s_lsh_buckets": _sim.lsh_buckets,
    "s_lsh_ann": _sim.lsh_ann,
    "s_ivf_ann": _sim.ivf_ann,
    "m_payload_integrity": _mm.payload_integrity,
    "m_feature_stream": _mm.feature_rows,
}

def _aggs_q(body: dict, rounds: dict | None = None):
    """Aggregation-DSL facade entry: compile_aggs over the documents (or
    named) table; ``rounds`` maps column -> decimals for float-stable
    oracle comparison."""
    def fn(spark: SparkSession, sf_dir: str, table: str = "documents") -> DataFrame:
        from opensearch_spark.search.aggs import compile_aggs

        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        out = compile_aggs(df, body)
        for col, nd in (rounds or {}).items():
            out = out.withColumn(col, F.round(F.col(col), nd))
        return out
    return fn


def _aggs_q_table(table: str, body: dict, rounds: dict | None = None):
    base = _aggs_q(body, rounds)
    return lambda spark, sf_dir: base(spark, sf_dir, table=table)


import ipaddress as _ipaddress

_IP_RANGES = ["10.0.20.0", "10.0.40.0"]
_IP_NUMS = [int(_ipaddress.IPv4Address(s)) for s in _IP_RANGES]


def _a_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip_range buckets (reference: IpRangeAggregationBuilder) over a
    deterministic IPv4 column derived from the events table."""
    from opensearch_spark.search.aggs import compile_aggs

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.withColumn(
        "ip",
        F.concat_ws(".", F.lit("10"), F.lit("0"),
                    (F.col("user_id") % 256).cast("string"),
                    (F.col("event_id") % 256).cast("string")),
    )
    return compile_aggs(ev, {
        "r": {"ip_range": {"field": "ip", "ranges": [
            {"to": _IP_RANGES[0]},
            {"from": _IP_RANGES[0], "to": _IP_RANGES[1]},
            {"from": _IP_RANGES[1]},
        ]}},
    })


# deterministic synthetic geo points over the events table (same
# arithmetic in the DuckDB oracles): lat in [-70, 70), lon in [-170, 170)
def _with_geo(ev: DataFrame) -> DataFrame:
    lat = (F.col("user_id") % 14000) / 100.0 - 70.0
    lon = (F.col("event_id") % 34000) / 100.0 - 170.0
    return ev.withColumn("location", F.struct(lat.alias("lat"), lon.alias("lon")))


_GEO_SQL_LAT = "((user_id % 14000) / 100.0 - 70.0)"
_GEO_SQL_LON = "((event_id % 34000) / 100.0 - 170.0)"
# mirrors aggs._haversine_m term-for-term (EARTH_MEAN_RADIUS from the
# reference's GeoUtils), in km
_GEO_SQL_DIST_KM = (
    "(2.0 * 6371008.7714150598::DOUBLE * asin(sqrt("
    f" pow(sin(radians({_GEO_SQL_LAT} - 0.0) / 2), 2)"
    f" + cos(radians(0.0)) * cos(radians({_GEO_SQL_LAT}))"
    f" * pow(sin(radians({_GEO_SQL_LON} - 0.0) / 2), 2)"
    ")) / 1000.0)"
)


def _a_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_distance rings from origin (0,0) (reference: bucket/range
    GeoDistanceAggregationBuilder) over a deterministic geo_point struct
    column derived from events."""
    from opensearch_spark.search.aggs import compile_aggs

    ev = _with_geo(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    return compile_aggs(ev, {
        "r": {"geo_distance": {
            "field": "location", "origin": {"lat": 0.0, "lon": 0.0},
            "unit": "km",
            "ranges": [{"to": 2000}, {"from": 2000, "to": 6000},
                       {"from": 6000}],
        }},
    })


def _a_geo_bounds_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_bounds + geo_centroid metrics (reference: metrics/
    GeoBoundsAggregator.java, GeoCentroidAggregator.java:58)."""
    from opensearch_spark.search.aggs import compile_aggs

    ev = _with_geo(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    out = compile_aggs(ev, {
        "gb": {"geo_bounds": {"field": "location"}},
        "gc": {"geo_centroid": {"field": "location"}},
    })
    for c in ("gb_top_left_lat", "gb_top_left_lon", "gb_bottom_right_lat",
              "gb_bottom_right_lon", "gc_lat", "gc_lon"):
        out = out.withColumn(c, F.round(F.col(c), 4))
    return out


# search_as_you_type (reference: modules/mapper-extras
# SearchAsYouTypeFieldMapper): the field carries shingle subfields
# _2gram/_3gram; a multi_match type=bool_prefix runs match_bool_prefix
# per subfield (the query analyzed with THAT subfield's shingle chain)
# and combines as dis_max with tie_breaker=1.0 — which equals the sum.
# The Spark shingle column / python query shingles / oracle tok
# self-join all derive from the same standard-analyzer token stream —
# INCLUDING the 255-char max_token_length split (review r5: the oracle
# and the query side split, so the shingle column must too).
from opensearch_spark.analysis.analyzer import MAX_TOKEN_LENGTH, spark_sql_tokens_expr as _stoks

_SATY_TOKS = _stoks("text")


def _saty_shingle_expr(n: int, toks: str = "_toks") -> str:
    """Shingle column over a PRE-TOKENIZED array column (tokenize once
    per row — inlining the split-aware tokenizer into every element_at
    re-tokenizes n+3 times, review r5). Grams longer than
    max_token_length are dropped: the indexed column's re-tokenization
    would 255-split them while the oracle's positional join keeps them
    whole; both sides filter identically instead."""
    grams = ", ".join(f"element_at({toks}, CAST(i + {j} AS INT))"
                      for j in range(n))
    return (f"CASE WHEN size({toks}) >= {n} THEN array_join(filter("
            f"transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> concat_ws('_', {grams})), g -> length(g) <= {MAX_TOKEN_LENGTH}), ' ') "
            f"ELSE '' END")


def _engine_saty(spark: SparkSession, sf_dir: str, n: int) -> SearchEngine:
    import hashlib as _hl
    import shutil as _sh

    field = f"text_{n}gram"
    sh_expr = _saty_shingle_expr(n)
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .withColumn("_toks", F.expr(_SATY_TOKS))
        .withColumn(field, F.expr(sh_expr))
        .drop("_toks")
    )
    dest = _aux_index_dir(sf_dir, f"saty{n}")
    # self-invalidating cache: the marker stores the hash of the
    # shingle-building expressions, so an expression change rebuilds
    # instead of serving a stale index (review r5)
    sig = _hl.sha256((_SATY_TOKS + "|" + sh_expr).encode()).hexdigest()
    marker = os.path.join(dest, "_ENTRY_DONE")
    cur = open(marker).read().strip() if os.path.exists(marker) else None
    if cur != sig:
        _sh.rmtree(dest, ignore_errors=True)
        os.makedirs(dest, exist_ok=True)
        build_index(spark, docs, dest, text_col=field,
                    doc_id_col="doc_id", n_segments=4)
        with open(marker, "w") as fh:
            fh.write(sig)
    return SearchEngine(spark, dest, corpus=docs, text_field=field,
                        doc_id_col="doc_id")


def _ft_search_as_you_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opensearch_spark.analysis.analyzer import tokenize
    from opensearch_spark.search import dsl as dsl_mod

    q = "hash join ta"
    toks = tokenize(q)
    g2 = " ".join("_".join(toks[i:i + 2]) for i in range(len(toks) - 1))
    g3 = " ".join("_".join(toks[i:i + 3]) for i in range(len(toks) - 2))
    s1 = _engine(spark, sf_dir).compile(
        dsl_mod.parse({"match_bool_prefix": {"text": q}})
    ).select("docId", F.col("score").alias("s1"))
    s2 = _engine_saty(spark, sf_dir, 2).compile(
        dsl_mod.parse({"match_bool_prefix": {"text_2gram": g2}})
    ).select("docId", F.col("score").alias("s2"))
    s3 = _engine_saty(spark, sf_dir, 3).compile(
        dsl_mod.parse({"match_bool_prefix": {"text_3gram": g3}})
    ).select("docId", F.col("score").alias("s3"))
    out = s1.join(s2, "docId", "full").join(s3, "docId", "full")
    return out.select(
        F.col("docId").alias("doc_id"),
        F.round(
            F.coalesce(F.col("s1"), F.lit(0.0))
            + F.coalesce(F.col("s2"), F.lit(0.0))
            + F.coalesce(F.col("s3"), F.lit(0.0)), 4).alias("score"),
    )



_FT_SATY_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O.base_ctes_shingle("2", 2) + ",\n"
    + O.base_ctes_shingle("3", 3) + ",\n"
    + O._match_clause_sql("m1", ["hash", "join"]) + ",\n"
    + O._match_clause_field("2", "m2", ["hash_join"]) + ",\n"
    + """
e1x AS (SELECT term FROM (SELECT DISTINCT term FROM dfreq
        WHERE starts_with(term, 'ta') ORDER BY term LIMIT 50)),
e1 AS (SELECT DISTINCT f.doc_id FROM tf f JOIN e1x USING (term)),
e2x AS (SELECT term FROM (SELECT DISTINCT term FROM dfreq2
        WHERE starts_with(term, 'join_ta') ORDER BY term LIMIT 50)),
e2 AS (SELECT DISTINCT f.doc_id FROM tf2 f JOIN e2x USING (term)),
e3x AS (SELECT term FROM (SELECT DISTINCT term FROM dfreq3
        WHERE starts_with(term, 'hash_join_ta') ORDER BY term LIMIT 50)),
e3 AS (SELECT DISTINCT f.doc_id FROM tf3 f JOIN e3x USING (term)),
f1 AS (SELECT coalesce(m1.doc_id, e1.doc_id) AS doc_id,
              coalesce(m1.raw, 0.0)
              + (CASE WHEN e1.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS s
       FROM m1 FULL OUTER JOIN e1 ON m1.doc_id = e1.doc_id),
f2 AS (SELECT coalesce(m2.doc_id, e2.doc_id) AS doc_id,
              coalesce(m2.raw, 0.0)
              + (CASE WHEN e2.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS s
       FROM m2 FULL OUTER JOIN e2 ON m2.doc_id = e2.doc_id),
f3 AS (SELECT doc_id, 1.0 AS s FROM e3)
SELECT coalesce(f1.doc_id, f2.doc_id, f3.doc_id) AS doc_id,
       round(coalesce(f1.s, 0.0) + coalesce(f2.s, 0.0)
             + coalesce(f3.s, 0.0), 4) AS score
FROM f1
FULL OUTER JOIN f2 ON f2.doc_id = f1.doc_id
FULL OUTER JOIN f3 ON f3.doc_id = coalesce(f1.doc_id, f2.doc_id)"""
)


def _r_update_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_update_by_query end-to-end (reference: modules/reindex
    UpdateByQueryAction): rewrite every doc matching term lang='de' by
    appending a marker token, then search the UPDATED index. The oracle
    is the match SQL over the equivalently-transformed table, so any
    drift in the snapshot/tombstone/re-add pipeline (missed doc, stale
    statistics, double-add) breaks df/avgdl/N and the score hash."""
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "ubq")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text", doc_id_col="doc_id",
                    n_segments=4)
        eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                           doc_id_col="doc_id")
        update_by_query(
            spark, eng, dest, {"term": {"lang": "de"}},
            {"text": "concat(text, ' updatedmark')"}, text_col="text")
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    updated = docs.withColumn(
        "text",
        F.when(F.col("lang") == "de",
               F.concat(F.col("text"), F.lit(" updatedmark")))
        .otherwise(F.col("text")))
    eng = SearchEngine(spark, dest, corpus=updated, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(
        dsl_mod.parse({"match": {"text": "hash updatedmark"}})))


_R_UBQ_SQL = (
    "WITH ud AS (SELECT doc_id, CASE WHEN lang = 'de' "
    "THEN text || ' updatedmark' ELSE text END AS text FROM documents),\n"
    + O.base_ctes(table="ud") + ",\n"
    + O._match_clause_sql("m0", ["hash", "updatedmark"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _r_update_by_query_painless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update_by_query driven by a PAINLESS ctx._source script
    (reference: modules/reindex UpdateByQueryAction + lang-painless
    ctx map mutation): declaration + param + if/else concat branches,
    transpiled to a single vectorized projection, then searched on the
    rewritten index — any transpile or upsert drift breaks the
    statistics hash."""
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "ubqp")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text", doc_id_col="doc_id",
                    n_segments=4)
        eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                           doc_id_col="doc_id")
        update_by_query(
            spark, eng, dest, {"term": {"lang": "de"}},
            {"lang": "painless",
             "source": (
                 "def sfx = params.sfx; "
                 "if (ctx._source.n_chars % 2 == 0) "
                 "{ ctx._source.text = ctx._source.text + sfx; } "
                 "else { ctx._source.text = ctx._source.text + sfx + '2'; }"
             ),
             "params": {"sfx": " painlessmark"}},
            text_col="text")
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    updated = docs.withColumn(
        "text",
        F.when(
            F.col("lang") == "de",
            F.when(F.col("n_chars") % 2 == 0,
                   F.concat(F.col("text"), F.lit(" painlessmark")))
            .otherwise(F.concat(F.col("text"), F.lit(" painlessmark2"))))
        .otherwise(F.col("text")))
    eng = SearchEngine(spark, dest, corpus=updated, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(
        dsl_mod.parse({"match": {"text": "hash painlessmark"}})))


_R_UBQ_PAINLESS_SQL = (
    "WITH ud AS (SELECT doc_id, CASE WHEN lang = 'de' THEN "
    "(CASE WHEN n_chars % 2 = 0 THEN text || ' painlessmark' "
    "ELSE text || ' painlessmark2' END) "
    "ELSE text END AS text FROM documents),\n"
    + O.base_ctes(table="ud") + ",\n"
    + O._match_clause_sql("m0", ["hash", "painlessmark"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _r_update_by_query_ctx_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update_by_query with ctx.op routing (reference: scripted
    UpdateByQuery's per-row verdict — 'delete' tombstones, 'noop'
    leaves the doc untouched, default 'index' applies the transform),
    followed by a compaction so tombstones are reclaimed and globals
    recomputed — the searched scores must equal SQL over the
    post-routing table (deleted rows gone, noop rows original,
    index rows transformed)."""
    from opensearch_spark.index.incremental import compact_index
    from opensearch_spark.index.reindex import update_by_query
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "ubqop")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text", doc_id_col="doc_id",
                    n_segments=4)
        eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                           doc_id_col="doc_id")
        update_by_query(
            spark, eng, dest, {"term": {"lang": "es"}},
            {"lang": "painless",
             "source": (
                 "if (ctx._source.n_chars % 3 == 0) { ctx.op = 'delete' } "
                 "else if (ctx._source.n_chars % 3 == 1) "
                 "{ ctx.op = 'noop' } "
                 "else { ctx._source.text = ctx._source.text "
                 "+ ' opmark'; }"),
             "params": {}},
            text_col="text")
        compact_index(spark, dest, target_segments=2)
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    view = docs.where(
        ~((F.col("lang") == "es") & (F.col("n_chars") % 3 == 0))
    ).withColumn(
        "text",
        F.when((F.col("lang") == "es") & (F.col("n_chars") % 3 == 2),
               F.concat(F.col("text"), F.lit(" opmark")))
        .otherwise(F.col("text")))
    eng = SearchEngine(spark, dest, corpus=view, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(
        dsl_mod.parse({"match": {"text": "hash opmark"}})))


_R_UBQ_CTX_OP_SQL = (
    "WITH ud AS (SELECT doc_id, "
    "CASE WHEN lang = 'es' AND n_chars % 3 = 2 "
    "THEN text || ' opmark' ELSE text END AS text "
    "FROM documents WHERE NOT (lang = 'es' AND n_chars % 3 = 0)),\n"
    + O.base_ctes(table="ud") + ",\n"
    + O._match_clause_sql("m0", ["hash", "opmark"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _r_nested_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nested query with score_mode (reference: NestedQueryBuilder /
    Lucene block-join, score_mode=sum): parents = orders carrying an
    array<struct> of their lineitems; the inner bool (range must +
    range must_not) filters child docs, each contributing score 1.0,
    summed per parent. Promotes the tests-only §2.4 nested-query row to
    a driver oracle: the SQL twin is the equivalent child-level
    count(*) group-by."""
    from opensearch_spark.search import dsl as dsl_mod

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    parents = (
        li.groupBy("l_orderkey").agg(
            F.collect_list(
                F.struct("l_quantity", "l_extendedprice")).alias("items"))
        .withColumn("docId", F.col("l_orderkey"))
        .withColumn("text", F.concat(F.lit("order "), F.col("l_orderkey")))
    )
    dest = _aux_index_dir(sf_dir, "nested")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, parents, dest, text_col="text",
                    doc_id_col="docId", n_segments=2)
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, dest, corpus=parents, text_field="text",
                       doc_id_col="docId")
    q = {"nested": {
        "path": "items", "score_mode": "sum",
        "query": {"bool": {
            "must": [{"range": {"items.l_quantity": {"gte": 45}}}],
            "must_not": [{"range": {"items.l_extendedprice": {"lt": 2000}}}],
        }},
    }}
    out = eng.compile(dsl_mod.parse(q))
    return out.select(F.col("docId").cast("long").alias("doc_id"),
                      F.col("score"))


_R_NESTED_SCORE_SQL = """
SELECT CAST(l_orderkey AS BIGINT) AS doc_id,
       CAST(count(*) AS DOUBLE) AS score
FROM lineitem
WHERE l_quantity >= 45 AND NOT (l_extendedprice < 2000)
GROUP BY l_orderkey
"""


def _r_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming ingestion certification (reference:
    pull-based streaming ingestion, SURVEY §2.9): the corpus parquet is
    re-laid-out as 4 files and streamed in with maxFilesPerTrigger=1 —
    the first micro-batch bootstraps the index, later batches append
    generations via add_batch (checkpointed offsets = the translog
    analog). The final index must carry FULL-corpus statistics, so the
    oracle is the plain match SQL over the whole table — a missed or
    double-applied batch breaks df/avgdl/N and the score hash."""
    from opensearch_spark.search import dsl as dsl_mod
    from opensearch_spark.streaming.ingest import start_indexing_stream

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "stream")
    ixdir = os.path.join(dest, "ix")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        src_dir = os.path.join(dest, "in")
        docs.repartition(4).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir)
        )
        q = start_indexing_stream(
            stream, ixdir, os.path.join(dest, "ckpt"),
            text_col="text", doc_id_col="doc_id", n_segments=4,
            available_now=True,
        )
        q.awaitTermination()
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, ixdir, corpus=docs, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(
        dsl_mod.parse({"match": {"text": "hash stream"}})))


_R_STREAM_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "stream"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _r_alias_multi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-index alias search certification (reference:
    cluster/metadata/AliasMetadata + TransportSearchAction fan-out):
    the corpus is split into two concrete indexes behind one alias;
    Cluster.search unions the per-index top-k plans under one global
    reduce. Scoring uses PER-INDEX local statistics (each index has its
    own df/N/avgdl — the reference's per-shard local stats under
    QUERY_THEN_FETCH), which the oracle reproduces with two suffixed
    CTE chains over the two halves."""
    from opensearch_spark.cluster import Cluster

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    left = docs.where(F.col("doc_id") < 250)
    right = docs.where(F.col("doc_id") >= 250)
    dests = {}
    for tag, part in (("aliasL", left), ("aliasR", right)):
        d = _aux_index_dir(sf_dir, tag)
        if not os.path.exists(os.path.join(d, "_ENTRY_DONE")):
            build_index(spark, part, d, text_col="text",
                        doc_id_col="doc_id", n_segments=2)
            open(os.path.join(d, "_ENTRY_DONE"), "w").close()
        dests[tag] = d
    cl = Cluster(spark)
    cl.register("left", SearchEngine(spark, dests["aliasL"], corpus=left,
                                     text_field="text", doc_id_col="doc_id"))
    cl.register("right", SearchEngine(spark, dests["aliasR"], corpus=right,
                                      text_field="text", doc_id_col="doc_id"))
    cl.put_alias("docs_all", "left", "right")
    hits = cl.search("docs_all", {"match": {"text": "hash"}}, k=9000)
    return hits.select(
        "_index", F.col("docId").alias("doc_id"),
        F.round("score", 4).alias("score"))


_R_ALIAS_SQL = (
    "WITH "
    + O.base_ctes_field("L", "text",
                        "(SELECT * FROM documents WHERE doc_id < 250)")
    + ",\n"
    + O.base_ctes_field("R", "text",
                        "(SELECT * FROM documents WHERE doc_id >= 250)")
    + ",\n"
    + O._match_clause_field("L", "mL", ["hash"])
    + ",\n"
    + O._match_clause_field("R", "mR", ["hash"])
    + """
SELECT 'left' AS _index, doc_id, round(raw, 4) AS score FROM mL
UNION ALL
SELECT 'right' AS _index, doc_id, round(raw, 4) AS score FROM mR"""
)


def _ft_msearch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_msearch certification (reference: TransportMultiSearchAction):
    two queries execute as ONE batched Spark job sharing the postings
    scan; each query's full hit set is tagged with its qid. The oracle
    is the union of the two independent match SQLs — any cross-query
    contamination in the shared decode breaks it."""
    eng = _engine(spark, sf_dir)
    out = eng.msearch([
        {"match": {"text": "hash join"}},
        {"match": {"text": {"query": "vector stream", "operator": "and"}}},
    ], k=9000)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("docId").alias("doc_id"),
                      F.round("score", 4).alias("score"))


_FT_MSEARCH_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + ",\n"
    + O._match_clause_sql("m1", ["vector", "stream"], operator="and")
    + """
SELECT CAST(0 AS BIGINT) AS qid, m0.doc_id AS doc_id,
       round(m0.raw, 4) AS score FROM m0
UNION ALL
SELECT CAST(1 AS BIGINT) AS qid, m1.doc_id AS doc_id,
       round(m1.raw, 4) AS score FROM m1"""
)


def _r_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot -> destructive mutation -> restore (reference:
    snapshots/RestoreService): delete half the docs AFTER the snapshot,
    restore into a fresh dir, search the restored index. The oracle is
    the plain full-corpus match SQL — a restore that leaked the
    post-snapshot deletes (or dropped files) changes the match set or
    the statistics and breaks the hash."""
    from opensearch_spark.index.snapshot import create_snapshot, restore_snapshot
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = _aux_index_dir(sf_dir, "snapbase")
    restored = _aux_index_dir(sf_dir, "snaprestored")
    if not os.path.exists(os.path.join(restored, "_ENTRY_DONE")):
        build_index(spark, docs, base, text_col="text", doc_id_col="doc_id",
                    n_segments=4)
        repo = os.path.join(base, "_repo")
        create_snapshot(base, repo, "s1")
        live = SearchEngine(spark, base, corpus=docs, text_field="text",
                            doc_id_col="doc_id")
        live.delete_by_query({"range": {"doc_id": {"lt": 250}}})
        restore_snapshot(repo, "s1", restored)
        open(os.path.join(restored, "_ENTRY_DONE"), "w").close()
        open(os.path.join(base, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, restored, corpus=docs, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


def _ft_painless_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score with lang=painless (reference: modules/lang-painless
    via ScriptScoreQueryBuilder): the Painless expression subset
    transpiles to a Catalyst expression (search/painless.py), so the
    reference's single-expression scripts run verbatim."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    q = {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": {
            "lang": "painless",
            "source": "_score * params.boost + Math.log(doc['n_chars'].value + 1)",
            "params": {"boost": 2},
        },
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


_FT_PAINLESS_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id,
               round((m0.raw * 2) + ln((d.n_chars + 1)), 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    """
)


def _ft_painless_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score with a STATEMENT Painless script (reference:
    modules/lang-painless Compiler.java — local declarations and
    if/else-if/return chains, the next script shape after single
    expressions): transpiled to one CASE WHEN Catalyst expression by
    search/painless.py's statement executor."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    q = {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": {
            "lang": "painless",
            "source": (
                "def base = Math.log(doc['n_chars'].value + 1); "
                "if (doc['lang'].value == 'en') "
                "{ return _score * params.w + base; } "
                "else if (doc['lang'].value == 'de') "
                "{ return _score + base * 2; } "
                "return base;"
            ),
            "params": {"w": 2},
        },
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


_FT_PAINLESS_STMT_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id,
               round(CASE WHEN d.lang = 'en'
                            THEN (m0.raw * 2) + ln(d.n_chars + 1)
                          WHEN d.lang = 'de'
                            THEN m0.raw + ln(d.n_chars + 1) * 2
                          ELSE ln(d.n_chars + 1) END, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    """
)


def _ft_painless_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score with a COUNTED LOOP + String method call (reference:
    modules/lang-painless Compiler.java — for statements and the
    allowlisted java.lang.String methods): the transpiler unrolls the
    const-bounded loop at compile time and maps the method to a Spark
    SQL function, so the whole script is still ONE Catalyst
    expression (search/painless.py _exec_loop/_method)."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    q = {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": {
            "lang": "painless",
            "source": (
                "double total = 0; "
                "for (int i = 1; i <= params.k; i++) "
                "{ total += _score / i; } "
                "if (doc['lang'].value.startsWith('e')) "
                "{ total += Math.log(doc['n_chars'].value + 1); } "
                "return total;"
            ),
            "params": {"k": 3},
        },
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


_FT_PAINLESS_LOOP_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id,
               round(CASE WHEN starts_with(d.lang, 'e')
                          THEN ((m0.raw / 1 + m0.raw / 2) + m0.raw / 3)
                               + ln(d.n_chars + 1)
                          ELSE ((m0.raw / 1 + m0.raw / 2) + m0.raw / 3)
                     END, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    """
)


def _ft_painless_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score with a FOR-EACH over a params list (reference:
    lang-painless for-each statements; the common script shape —
    iterate user-supplied markers/boosts): the transpiler unrolls one
    body execution per constant element (search/painless.py
    _exec_foreach), so the script is still ONE Catalyst expression."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    q = {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": {
            "lang": "painless",
            "source": (
                "double boost = 1.0; "
                "for (def m : params.langs) "
                "{ if (doc['lang'].value == m) { boost = boost + "
                "params.step; } } "
                "return _score * boost;"
            ),
            "params": {"langs": ["en", "de"], "step": 0.5},
        },
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


_FT_PAINLESS_FOREACH_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id,
               round(m0.raw * (CASE WHEN d.lang IN ('en', 'de')
                               THEN 1.5 ELSE 1.0 END), 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    """
)


def _ft_analyze_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_analyze parity row: the EXACT (doc_id, pos, term) stream the
    index build consumes (same DuckDB-dialect tokenizer expression the
    segment tasks run), checked against the oracle's tok CTE — the
    analyzer contract certified directly instead of only through
    scores. First 50 docs keep the row count bounded."""
    from opensearch_spark.analysis.analyzer import duckdb_tokens_expr
    import duckdb
    import pyarrow as pa

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where(F.col("doc_id") < 50).select("doc_id", "text")
    )
    pdf = docs.toPandas()
    con = duckdb.connect(config={"threads": 1})
    con.register("docs", pa.Table.from_pandas(pdf))
    out = con.execute(
        "SELECT doc_id, "
        + duckdb_tokens_expr("standard", col="text") + " AS toks FROM docs"
    ).fetchdf()
    con.close()
    rows = [
        (int(d), int(p), t)
        for d, toks in zip(out["doc_id"], out["toks"])
        for p, t in enumerate(toks)
    ]
    return spark.createDataFrame(rows, "doc_id long, pos long, term string")


_FT_ANALYZE_SQL = (
    "WITH d50 AS (SELECT * FROM documents WHERE doc_id < 50),\n"
    + O.base_ctes(table="d50")
    + "\nSELECT doc_id, CAST(pos AS BIGINT) AS pos, term FROM tok"
)


def _ft_suggest_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase suggester certification (reference: search/suggest/phrase/
    PhraseSuggester.java; repo: the documented simplified bigram-free
    LM variant): per-token candidates from the term-suggester ordering
    (distance asc, df desc, term asc — integer keys, deterministic),
    token score ln((df+1)/(N+1)) + edits*ln(1-rwel), phrase = beam fold.
    With size >= (max_candidates+1)^2 the beam is the FULL cartesian
    fold, so the oracle enumerates every combo: both OOV input tokens
    keep their penalized self-candidates, the input phrase is excluded.
    """
    eng = _engine(spark, sf_dir)
    out = eng.suggest_phrase("hasj tabel", size=30, max_candidates=4)
    return spark.createDataFrame(
        [(o["text"], round(float(o["score"]), 4)) for o in out],
        "text string, score double")


_FT_SUGGEST_PHRASE_SQL = (
    "WITH " + O.base_ctes() + """,
inp(pos, tok) AS (VALUES (0, 'hasj'), (1, 'tabel')),
cand AS (
  SELECT i.pos, i.tok, d.term AS text, d.df,
         levenshtein(d.term, i.tok) AS distance
  FROM inp i JOIN dfreq d
    ON substr(d.term, 1, 1) = substr(i.tok, 1, 1)
   AND length(d.term) BETWEEN length(i.tok) - 2 AND length(i.tok) + 2
   AND levenshtein(d.term, i.tok) <= 2
   AND d.term <> i.tok
),
topc AS (
  SELECT pos, text, df, distance,
         row_number() OVER (PARTITION BY pos
                            ORDER BY distance, df DESC, text) AS rn
  FROM cand
),
scored AS (
  -- channel constant spelled EXACTLY as the engine computes it:
  -- ln(1.0 - 0.95), which is 1 ulp away from ln(0.05) (review r5)
  SELECT pos, text,
         ln((df + 1.0) / (gl.n + 1)) + distance * ln(1.0 - 0.95) AS s
  FROM topc CROSS JOIN gl WHERE rn <= 4
  UNION ALL
  SELECT i.pos, i.tok, ln(1.0 / (gl.n + 1)) + ln(1.0 - 0.95)
  FROM inp i CROSS JOIN gl
)
SELECT a.text || ' ' || b.text AS text, round(a.s + b.s, 4) AS score
FROM scored a JOIN scored b ON a.pos = 0 AND b.pos = 1
WHERE a.text || ' ' || b.text <> 'hasj tabel'"""
)


def _ft_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_mtermvectors certification (reference: TermVectorsService /
    RestMultiTermVectorsAction): per-doc term_freq + first position
    from source re-analysis, joined with df/ttf from the index term
    dictionary — the oracle recomputes all four from the token CTE."""
    eng = _engine(spark, sf_dir)
    tvs = eng.mtermvectors(list(range(10)), term_statistics=True)
    rows = []
    for tv in tvs:
        if not tv.get("found"):
            continue
        for term, e in tv["terms"].items():
            rows.append((int(tv["_id"]), term, int(e["term_freq"]),
                         int(e["tokens"][0]["position"]),
                         int(e["doc_freq"]), int(e["ttf"])))
    return spark.createDataFrame(
        rows,
        "doc_id long, term string, tf long, first_pos long, "
        "df long, ttf long")


_FT_TERMVECTORS_SQL = (
    "WITH " + O.base_ctes() + """,
ttf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ttf FROM tf GROUP BY term),
sel AS (
  SELECT doc_id, term, count(*) AS tf, min(pos) AS first_pos
  FROM tok WHERE doc_id < 10 GROUP BY doc_id, term
)
SELECT s.doc_id, s.term, CAST(s.tf AS BIGINT) AS tf,
       CAST(s.first_pos AS BIGINT) AS first_pos,
       CAST(d.df AS BIGINT) AS df, t.ttf AS ttf
FROM sel s JOIN dfreq d USING (term) JOIN ttf t USING (term)"""
)


def _ft_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_explain certification (reference: TransportExplainAction /
    Lucene Explanation): per-term idf + BM25 contribution and the
    matched total for a fixed query over docs 0-9, each recomputed by
    the oracle from the statistics CTEs.

    This is the BATCH form of eng.explain — the same three compiled
    plans explain() runs per (query, doc), each compiled ONCE and
    filtered to the doc range (review r5: per-doc explain() calls ran
    ~30 driver jobs in the gate sample; eng.explain itself stays
    pytest-covered). Parity with explain() is asserted on one doc."""
    from opensearch_spark.search import ast as A, dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    terms = ["hash", "join"]
    idfs = {t: round(float(v), 4) for t, v in eng._idfs(terms).items()}
    frames = []
    for t in sorted(idfs):
        one = (eng.compile(A.Match(field_name="text", query=t))
               .where(F.col("docId") < 10)
               .select(F.col("docId").alias("doc_id"), F.lit(t).alias("term"),
                       F.lit(idfs[t]).alias("idf"),
                       F.round("score", 4).alias("score")))
        frames.append(one)
    total = (eng.compile(dsl_mod.parse({"match": {"text": "hash join"}}))
             .where(F.col("docId") < 10)
             .select(F.col("docId").alias("doc_id"),
                     F.lit("_total").alias("term"),
                     F.lit(0.0).alias("idf"),
                     F.round("score", 4).alias("score")))
    frames.append(total)
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    # contract pin: the batch form equals the per-doc API on doc 0
    ex0 = eng.explain({"match": {"text": "hash join"}}, 0)
    api0 = {(d["term"], round(float(d["score"]), 4))
            for d in ex0["details"]}
    if ex0["matched"]:
        api0.add(("_total", round(float(ex0["total"]), 4)))
    batch0 = {(r["term"], r["score"])
              for r in out.where(F.col("doc_id") == 0).collect()}
    assert api0 == batch0, (api0, batch0)
    return out


_FT_EXPLAIN_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + f"""
, det AS (
  SELECT f.doc_id, f.term,
         round(ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5)), 4) AS idf,
         round(ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5)) * {O.K1 + 1.0!r}
               * f.tf / (f.tf + {O.K1!r} * (1 - {O.B!r} + {O.B!r} * q.dlq / gl.avgdl)),
               4) AS score
  FROM tf f
  JOIN dfreq d USING (term)
  JOIN dlq q USING (doc_id)
  CROSS JOIN gl
  WHERE f.doc_id < 10 AND f.term IN ('hash', 'join')
)
SELECT doc_id, term, idf, score FROM det
UNION ALL
SELECT m0.doc_id AS doc_id, '_total' AS term, CAST(0.0 AS DOUBLE) AS idf,
       round(m0.raw, 4) AS score
FROM m0 WHERE m0.doc_id < 10"""
)


def _ft_search_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search pipeline certification (reference:
    modules/search-pipeline-common SearchPipelineCommonModulePlugin):
    a filter_query REQUEST processor ANDs a term filter into the query
    (filter context — no score contribution) and a rename_field
    RESPONSE processor renames the score column; the oracle is the
    equivalently filtered match SQL with the renamed output column."""
    from opensearch_spark.search.pipeline import SearchPipeline

    eng = _engine(spark, sf_dir)
    pipe = SearchPipeline(
        request_processors=[
            {"filter_query": {"query": {"term": {"lang": "en"}}}}],
        response_processors=[
            {"rename_field": {"field": "score",
                              "target_field": "relevance"}}],
    )
    hits = pipe.run(eng, {"query": {"match": {"text": "hash"}},
                          "size": 9000})["hits"]
    return hits.select(F.col("docId").alias("doc_id"),
                       F.round("relevance", 4).alias("relevance"))


_FT_SEARCH_PIPELINE_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS relevance
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        WHERE d.lang = 'en'
    """
)


def _ft_derived_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived fields + doc-value formatting certification (reference:
    DerivedFieldMapper — query-time computed fields — and
    DocValueFieldsContext/DocValueFormat): two derived SQL expressions
    and a printf-formatted docvalue field ride the fetch phase; the
    oracle recomputes all three from the documents table."""
    eng = _engine(spark, sf_dir)
    hits = eng.request({
        "query": {"match": {"text": "hash"}},
        "size": 9000,
        "derived": {
            "half_chars": "CAST(floor(n_chars / 2) AS LONG)",
            "lang_tag": "concat('l:', lang)",
        },
        "docvalue_fields": [{"field": "n_chars", "format": "%05d"}],
    })["hits"]
    return hits.select(
        F.col("docId").alias("doc_id"), F.round("score", 4).alias("score"),
        "half_chars", "lang_tag", "n_chars_value")


_FT_DERIVED_FIELDS_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score,
               CAST(floor(d.n_chars / 2) AS BIGINT) AS half_chars,
               'l:' || d.lang AS lang_tag,
               printf('%05d', d.n_chars) AS n_chars_value
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    """
)


def _ft_analyze_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed `_analyze` chain certification (reference:
    TransportAnalyzeAction + analysis-common): html_strip char filter
    (tag removal AND entity decoding — the injected &#104; must decode
    to 'h' to tokenize as 'hi') -> standard tokenizer -> lowercase ->
    2-shingle (output_unigrams). The (pos, term) stream of the repo's
    actual analyze_chain (the `_analyze` implementation) is hash-checked
    against a DuckDB mirror of every chain stage. doc_id < 40 bounds
    the row count."""
    from opensearch_spark.analysis.filters import analyze_chain

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where(F.col("doc_id") < 40).select("doc_id", "text")
    )
    html = F.concat(F.lit("<b>&#104;i</b> "), F.col("text"),
                    F.lit(" <i>end tag</i>"))

    @F.pandas_udf("array<struct<pos: long, term: string>>")
    def chain(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [
            (int(x["position"]), str(x["token"]))
            for x in analyze_chain(
                t or "", tokenizer="standard",
                filters=["lowercase", {"type": "shingle"}],
                char_filters=["html_strip"])
        ])

    return (
        docs.withColumn("t", F.explode(chain(html)))
        .select("doc_id", F.col("t.pos").alias("pos"),
                F.col("t.term").alias("term"))
    )


_FT_ANALYZE_CHAIN_SQL = f"""WITH pre AS (
  SELECT doc_id, '<b>&#104;i</b> ' || text || ' <i>end tag</i>' AS html
  FROM documents WHERE doc_id < 40
),
stripped AS (
  SELECT doc_id,
         replace(regexp_replace(html, '<[^>]*>', '', 'g'), '&#104;', 'h') AS txt
  FROM pre
),
tk AS (
  SELECT doc_id, unnest(tl) AS term, generate_subscripts(tl, 1) - 1 AS pos
  FROM (SELECT doc_id,
               {duckdb_tokens_expr("standard", col="txt")} AS tl
        FROM stripped)
),
big AS (
  SELECT doc_id, pos, term,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tk
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, term FROM big
UNION ALL
SELECT doc_id, CAST(pos AS BIGINT) AS pos, term || ' ' || nxt AS term
FROM big WHERE nxt IS NOT NULL"""


def _ft_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-aware highlighting certification (reference: search/fetch/
    subphase/highlight/HighlightPhase.java; unified highlighter): one
    row per exact 'hash table' phrase occurrence with a token-stream
    fragment (context 2, single-space joined) wrapping ONLY the
    occurrence's own positions — a term-set highlighter that wraps a
    stray nearby 'hash' or 'table' breaks the hash. Same analyzer
    stream the index consumes (certified by ft_analyze_tokens)."""
    from opensearch_spark.analysis.analyzer import tokenize
    from opensearch_spark.search import highlight as H

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")

    @F.pandas_udf("array<struct<pos: long, frag: string>>")
    def occ(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: H.phrase_occurrence_rows(
            tokenize(t or ""), ["hash", "table"], ctx=2))

    return (
        docs.withColumn("o", F.explode(occ(F.col("text"))))
        .select("doc_id", F.col("o.pos").alias("pos"),
                F.col("o.frag").alias("frag"))
    )


_FT_HIGHLIGHT_SQL = (
    "WITH " + O.base_ctes() + """,
occ AS (
  SELECT t0.doc_id, t0.pos AS s
  FROM tok t0 JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  WHERE t0.term = 'hash' AND t1.term = 'table'
),
frag AS (
  SELECT o.doc_id, o.s,
         string_agg(CASE WHEN t.pos BETWEEN o.s AND o.s + 1
                         THEN '<em>' || t.term || '</em>' ELSE t.term END,
                    ' ' ORDER BY t.pos) AS frag
  FROM occ o JOIN tok t ON t.doc_id = o.doc_id
                       AND t.pos BETWEEN o.s - 2 AND o.s + 3
  GROUP BY o.doc_id, o.s
)
SELECT doc_id, CAST(s AS BIGINT) AS pos, frag FROM frag"""
)


def _ft_suggest_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion suggester (reference: CompletionSuggester.java —
    FST prefix automaton with weights; dictionary-backed variant: term
    dictionary = corpus, df = weight, order (weight desc, text))."""
    eng = _engine(spark, sf_dir)
    rows = [(s["text"], int(s["weight"]))
            for s in eng.suggest_completion("s", size=8)]
    return spark.createDataFrame(rows, "text string, weight long")


_FT_SUGGEST_COMPLETION_SQL = (
    "WITH " + O.base_ctes()
    + """
    SELECT term AS text, CAST(df AS BIGINT) AS weight
    FROM dfreq WHERE starts_with(term, 's')
    ORDER BY df DESC, term LIMIT 8"""
)


def _ft_flat_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flat_object field type (reference: FlatObjectFieldMapper.java:80)
    over a deterministic JSON attrs column derived from events: a ROOT
    term query (any leaf == 'click') AND a dotted-path term
    (meta.big == 'true'), plus a path-exists filter. The oracle queries
    the base columns the JSON was derived from, so any flattening slip
    (paths, array handling, value stringification) breaks the hash."""
    from opensearch_spark.fields import flat_exists, flat_term, flatten_json

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.withColumn(
        "attrs",
        F.to_json(F.struct(
            F.col("event_type").alias("type"),
            F.struct(
                F.col("user_id").alias("uid"),
                (F.col("value") > 50).alias("big"),
            ).alias("meta"),
            F.array(F.col("event_type"), F.lit("tagged")).alias("tags"),
        )),
    )
    flat = flatten_json(ev, "attrs", id_col="event_id")
    hits = (
        flat_term(flat, "click", id_col="event_id")
        .join(flat_term(flat, "true", path="meta.big", id_col="event_id"),
              "event_id")
        .join(flat_exists(flat, "meta", id_col="event_id"), "event_id")
    )
    return hits.join(ev, "event_id").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("uid_sum"),
    )


_FT_FLAT_OBJECT_SQL = """
    SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS uid_sum
    FROM events
    WHERE event_type = 'click' AND value > 50
    GROUP BY event_type
"""


def _engine_mot(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Engine over a docs-only (match_only_text) index — no freqs or
    positions stored (reference: MatchOnlyTextFieldMapper.java:46)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "mot")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text", doc_id_col="doc_id",
                    n_segments=4, index_options="docs")
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    return SearchEngine(spark, dest, corpus=docs, text_field="text",
                        doc_id_col="doc_id")


def _ft_match_only_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match on a match_only_text field: tf and norms are gone, so the
    score is the idf sum over matched query terms."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine_mot(spark, sf_dir)
    return _scored(eng.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


def _ft_match_only_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phrase on a match_only_text field: candidates from the docs-only
    postings, phrase re-verified against the source (the reference's
    SourceFieldMatchQuery), scored as the match-only idf sum."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine_mot(spark, sf_dir)
    return _scored(eng.compile(
        dsl_mod.parse({"match_phrase": {"text": "hash table"}})))


# idf-only scoring: sum of ln(1+(N-df+0.5)/(df+0.5)) over query terms
# PRESENT in the doc (tf presence only; no tf/norm factors)
def _mot_match_sql(terms: list, extra: str = "") -> str:
    qt = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    having = f"HAVING count(DISTINCT f.term) = {len(set(terms))}"
    return (
        "WITH " + O.base_ctes() + f""",
qt(term) AS (VALUES {qt}),
m AS (
  SELECT f.doc_id,
         sum(ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5))) AS raw
  FROM tf f JOIN qt USING (term) JOIN dfreq d USING (term) CROSS JOIN gl
  GROUP BY f.doc_id
  {having if extra else ''}
)
SELECT m.doc_id AS doc_id, round(m.raw, 4) AS score FROM m {extra}"""
    )


_FT_MOT_SQL = _mot_match_sql(["hash", "join"])
_FT_MOT_PHRASE_SQL = _mot_match_sql(
    ["hash", "table"],
    extra="""JOIN (
  SELECT DISTINCT a.doc_id FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'hash' AND b.term = 'table'
) v ON v.doc_id = m.doc_id""",
)


def _ft_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exists query in filter context (reference: ExistsQueryBuilder —
    matches docs with ANY value for the field). The engine corpus
    carries a deterministic nullable `subtitle` column (set on every
    third doc), so the filter is non-trivial."""
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    q = {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"exists": {"field": "subtitle"}}],
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


def _a_global_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """global agg escapes the query scope (reference: bucket/global/
    GlobalAggregator.java collects every doc regardless of the query)
    while sibling aggs stay scoped to the matched set."""
    eng = _engine(spark, sf_dir)
    out = eng.request({
        "query": {"match": {"text": "hash"}},
        "size": 0,
        "aggs": {
            "scoped_len": {"avg": {"field": "n_chars"}},
            "g": {"global": {},
                  "aggs": {"all_len": {"avg": {"field": "n_chars"}}}},
        },
    })
    df = out["aggregations"]
    return df.select(
        F.col("doc_count").alias("matched_count"),
        F.round("scoped_len", 4).alias("scoped_len"),
        F.col("g_doc_count").alias("all_count"),
        F.round("all_len", 4).alias("all_len"),
    )


def _a_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality (reference:
    HyperLogLogPlusPlus.java:66 — per-shard sketches merged
    register-wise on the coordinator). precision_threshold 40000 keeps
    the sketch in its sparse (exact) regime at every test SF, so the
    estimate equals COUNT(DISTINCT) — the same exactness contract the
    reference documents for counts at or below the threshold. The
    distributed shape is the 100 TB one regardless of regime: one
    sketch blob per (partition, key) shuffles, never the raw values."""
    from opensearch_spark.sketches import hll_cardinality

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return hll_cardinality(
        li, "l_partkey", precision_threshold=40000, by=["l_returnflag"],
        alias="cardinality",
    ).orderBy("l_returnflag")


def _a_percentile_ranks_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest percentile ranks (reference:
    TDigestPercentileRanksAggregator.java backed by TDigestState —
    per-shard digests, coordinator merge). Probes are data values and
    l_quantity has 50 distinct values, well under compression 200's
    singleton budget, so the merged digest keeps one exact centroid per
    value and the mid-distribution cdf equals the SQL formula exactly —
    certifying the sketch pipeline end-to-end, not a tolerance."""
    from opensearch_spark.sketches import tdigest_percentile_ranks

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return tdigest_percentile_ranks(
        li, "l_quantity", [1.0, 25.0, 49.0], compression=200.0,
        by=["l_returnflag"],
    ).orderBy("l_returnflag")


def _a_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """children aggregation (reference: modules/parent-join
    ChildrenAggregationBuilder.java:59): customer buckets switch scope
    to their order children; doc_count counts children."""
    from opensearch_spark.search.aggs import compile_aggs

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return compile_aggs(cust, {
        "seg": {"terms": {"field": "c_mktsegment", "size": 10},
                "aggs": {"ch": {"children": {"child": orders,
                                             "on": ("c_custkey", "o_custkey")},
                                "aggs": {"avg_price": {
                                    "avg": {"field": "o_totalprice"}}}}}},
    }).withColumn("avg_price", F.round("avg_price", 4))


def _a_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parent aggregation (ParentAggregationBuilder.java:57): lineitem
    buckets jump to their parent orders, each parent counted once."""
    from opensearch_spark.search.aggs import compile_aggs

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return compile_aggs(li, {
        "f": {"terms": {"field": "l_returnflag", "size": 10,
                        "order": {"_key": "asc"}},
              "aggs": {"p": {"parent": {"parent": orders,
                                        "on": ("l_orderkey", "o_orderkey")},
                             "aggs": {"avg_price": {
                                 "avg": {"field": "o_totalprice"}}}}}},
    }).withColumn("avg_price", F.round("avg_price", 4))


_DOC_GEO_LAT = "(((d.doc_id * 37) % 14000) / 100.0 - 70.0)"
_DOC_GEO_LON = "(((d.doc_id * 91) % 34000) / 100.0 - 170.0)"
_DOC_GEO_DIST_M = (
    "(2.0 * 6371008.7714150598::DOUBLE * asin(sqrt("
    f" pow(sin(radians({_DOC_GEO_LAT} - 0.0) / 2), 2)"
    f" + cos(radians(0.0)) * cos(radians({_DOC_GEO_LAT}))"
    f" * pow(sin(radians({_DOC_GEO_LON} - 0.0) / 2), 2)"
    ")))"
)


def _ft_geo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_distance query in filter context (reference:
    GeoDistanceQueryBuilder): match scoring restricted to points within
    6000 km of the origin, over the corpus's geo_point struct."""
    eng = _engine(spark, sf_dir)
    from opensearch_spark.search import dsl as dsl_mod

    q = {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"geo_distance": {"distance": "9000km",
                                     "location": {"lat": 0.0, "lon": 0.0}}}],
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


_POLY_PTS = [(0.0, -60.0), (55.0, -10.0), (10.0, 70.0), (-45.0, 20.0),
             (-20.0, -50.0)]


def _poly_sql(pts: list, lat_sql: str, lon_sql: str) -> str:
    """DuckDB mirror of the engine's even-odd ray-casting membership
    (engine.py GeoPolygonQ compile): parity of per-edge crossings,
    identical constant folding and operand order."""
    terms = []
    for i in range(len(pts)):
        lat_i, lon_i = pts[i]
        lat_j, lon_j = pts[i - 1]
        if lat_i == lat_j:
            continue
        terms.append(
            f"(CASE WHEN (({lat_i!r} > {lat_sql}) <> ({lat_j!r} > {lat_sql}))"
            f" AND ({lon_sql} < ({lon_j - lon_i!r}) * ({lat_sql} - ({lat_i!r}))"
            f" / ({lat_j - lat_i!r}) + ({lon_i!r})) THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _ft_geo_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_polygon query in filter context (reference:
    GeoPolygonQueryBuilder — even-odd ray casting): match scoring
    restricted to points inside a 5-vertex polygon."""
    eng = _engine(spark, sf_dir)
    from opensearch_spark.search import dsl as dsl_mod

    q = {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"geo_polygon": {"location": {
            "points": [{"lat": la, "lon": lo} for la, lo in _POLY_PTS]}}}],
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


def _ft_script_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-level script_score query (reference:
    ScriptScoreQueryBuilder): the script REPLACES the BM25 score
    (`_score` available inside), min_score drops hits below the cut."""
    eng = _engine(spark, sf_dir)
    from opensearch_spark.search import dsl as dsl_mod

    q = {"script_score": {
        "query": {"match": {"text": "hash"}},
        "script": {"source": "_score + n_chars / 1000.0"},
        "min_score": 0.65,
    }}
    return _scored(eng.compile(dsl_mod.parse(q)))


def _geohash_sql(prec: int, lat_sql: str, lon_sql: str) -> str:
    """DuckDB mirror of the geohash_grid bit-interleave (term-for-term
    with aggs.py's codegen expression)."""
    bits = 5 * prec
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    xi = (f"least(CAST(floor(({lon_sql} + 180.0) / 360.0 * "
          f"{float(1 << lon_bits)}) AS BIGINT), {(1 << lon_bits) - 1})")
    yi = (f"least(CAST(floor(({lat_sql} + 90.0) / 180.0 * "
          f"{float(1 << lat_bits)}) AS BIGINT), {(1 << lat_bits) - 1})")
    terms = []
    for i in range(bits):
        from_msb = bits - 1 - i
        if from_msb % 2 == 0:
            src = f"(xi >> {lon_bits - 1 - (from_msb // 2)})"
        else:
            src = f"(yi >> {lat_bits - 1 - (from_msb // 2)})"
        terms.append(f"(({src} & 1) << {i})")
    inter = " + ".join(terms)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{b32}', CAST(((inter >> {5 * (prec - 1 - ci)}) & 31) + 1 AS INT), 1)"
        for ci in range(prec)
    )
    return (f"WITH q AS (SELECT {xi} AS xi, {yi} AS yi FROM events),\n"
            f"h AS (SELECT {inter} AS inter FROM q)\n"
            f"SELECT {chars} AS key_g, count(*) AS doc_count FROM h\n"
            f"GROUP BY key_g ORDER BY doc_count DESC, key_g LIMIT 2000")


def _a_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geohash_grid buckets (reference: bucket/geogrid/
    GeoHashGridAggregationBuilder) over the deterministic events geo."""
    from opensearch_spark.search.aggs import compile_aggs

    ev = _with_geo(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    return compile_aggs(ev, {
        "g": {"geohash_grid": {"field": "location", "precision": 2,
                               "size": 2000}},
    })


def _a_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geotile_grid buckets (reference: bucket/geogrid/
    GeoTileGridAggregationBuilder — web-mercator z/x/y tiles)."""
    from opensearch_spark.search.aggs import compile_aggs

    ev = _with_geo(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    return compile_aggs(ev, {
        "g": {"geotile_grid": {"field": "location", "precision": 3,
                               "size": 100}},
    })


def _a_star_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """star_tree composite index (reference: index/compositeindex/
    datacube/startree/): the terms+metrics agg is answered from the
    materialized cube slice — one gid partition, zero shuffle, fact
    table untouched at query time."""
    from opensearch_spark.index.startree import build_star_tree, star_tree_agg

    tree = os.path.join(
        ".cache", f"startree_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    if not os.path.exists(os.path.join(tree, "_SUCCESS")):
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        build_star_tree(orders, ["o_orderstatus", "o_orderpriority"],
                        ["o_totalprice"], tree)
    out = star_tree_agg(
        spark, tree, ["o_orderstatus", "o_orderpriority"],
        group_by=["o_orderstatus"],
        metrics={"doc_count": "doc_count", "rev": "sum_o_totalprice",
                 "avg_rev": "avg_o_totalprice"},
    )
    return out.select(
        "o_orderstatus", "doc_count", F.round("rev", 2).alias("rev"),
        F.round("avg_rev", 4).alias("avg_rev"),
    ).orderBy("o_orderstatus")


def _ft_script_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script sort (reference: ScriptSortBuilder): top-30 match hits
    ordered by an arbitrary SQL expression over corpus columns."""
    eng = _engine(spark, sf_dir)
    out = eng.search({"match": {"text": "hash"}}, k=30,
                     sort=[("n_chars % 7", "desc")])
    return out.select(F.col("docId").alias("doc_id"),
                      F.round("score", 4).alias("score"))


def _a_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nested agg (reference: bucket/nested/NestedAggregator.java:72):
    parents = orders with an array<struct> of their lineitems; the
    nested path explodes back to child scope for the metrics."""
    from opensearch_spark.search.aggs import compile_aggs

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    parents = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_quantity", "l_extendedprice")).alias("items")
    )
    out = compile_aggs(parents, {
        "n": {"nested": {"path": "items"},
              "aggs": {"avg_q": {"avg": {"field": "items.l_quantity"}},
                       "sum_p": {"sum": {"field": "items.l_extendedprice"}}}},
    })
    return out.select(
        "doc_count", F.round("avg_q", 4).alias("avg_q"),
        F.round("sum_p", 2).alias("sum_p"),
    )


def _a_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nested -> terms(child field) -> reverse_nested: doc_count jumps
    back to PARENT scope (distinct orders per return flag)."""
    from opensearch_spark.search.aggs import compile_aggs

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    parents = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_returnflag")).alias("items")
    )
    return compile_aggs(parents, {
        "n": {"nested": {"path": "items"},
              "aggs": {"flags": {"terms": {"field": "items.l_returnflag",
                                           "size": 5},
                                 "aggs": {"parents": {"reverse_nested": {
                                     "id_field": "l_orderkey"}}}}}},
    })


def _a_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scripted_metric with Python init/map/combine/reduce (reference:
    ScriptedMetricAggregator.java:64) — vectorized map per Arrow batch,
    partial-state reduce on the driver."""
    from opensearch_spark.search.aggs import compile_aggs

    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return compile_aggs(df, {
        "sm": {"scripted_metric": {
            "init": lambda: {"acc": 0.0},
            "map_pandas": lambda st, pdf: {
                "acc": st["acc"] + float((pdf["n_chars"] * 2).sum())
            },
            "combine": lambda st: st["acc"],
            "reduce": lambda parts: sum(parts),
        }},
    })


def _a_terms_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms agg `missing` param (reference: TermsAggregationBuilder
    missing): nulls bucket under the substitute value. Nulls derived
    deterministically (lang of every 7th doc)."""
    from opensearch_spark.search.aggs import compile_aggs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = d.withColumn(
        "l2", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang")))
    return compile_aggs(d, {
        "l": {"terms": {"field": "l2", "size": 10, "missing": "unknown"}},
    })


def _a_histogram_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram min_doc_count=0 (reference: empty buckets materialize
    between the min and max keys) over a deterministically gappy value
    ((doc_id % 5) * 3 -> keys 0,3,6,9,12 with interval 1)."""
    from opensearch_spark.search.aggs import compile_aggs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = d.withColumn("v", (F.col("doc_id") % 5) * 3.0)
    return compile_aggs(d, {
        "h": {"histogram": {"field": "v", "interval": 1,
                            "min_doc_count": 0}},
    })


def _a_date_histogram_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram min_doc_count=0: calendar gap fill — a sparse
    order subset (o_orderkey % 97 == 0) leaves empty months."""
    from opensearch_spark.search.aggs import compile_aggs

    d = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return compile_aggs(d.where(F.col("o_orderkey") % 97 == 0), {
        "m": {"date_histogram": {"field": "o_orderdate",
                                 "calendar_interval": "month",
                                 "min_doc_count": 0}},
    })


_PERC_QUERIES = {
    "q_dup": {"match": {"text": "dup"}},
    "q_hj_and": {"match": {"text": {"query": "hash join",
                                    "operator": "and"}}},
    "q_phrase": {"match_phrase": {"text": "hash join"}},
    "q_bool": {"bool": {"must": [{"match": {"text": "table"}}],
                        "must_not": [{"match": {"text": "dup"}}]}},
}


def _ft_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolate / reverse search (reference: modules/percolator/
    PercolateQueryBuilder.java:112): every (document, stored query)
    match — one mapInPandas pass, no shuffle."""
    from opensearch_spark.search.percolate import percolate

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return percolate(docs, _PERC_QUERIES, text_col="text", id_col="doc_id")


def _ft_scroll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scroll pagination (reference: Scroll.java:51): keyset batches of
    50 over (score desc, docId asc); the certified value is that the
    UNION of all batches reproduces the full match set exactly."""
    eng = _engine(spark, sf_dir)
    rows = []
    for batch in eng.scroll({"match": {"text": "hash join"}},
                            batch_size=50):
        # keep RAW scores; round Spark-side so the rounding mode (HALF_UP)
        # matches the oracle's SQL round, not Python's half-to-even
        rows.extend((int(r["docId"]), float(r["score"])) for r in batch)
    return spark.createDataFrame(rows, "doc_id long, score double").select(
        "doc_id", F.round("score", 4).alias("score"))


def _ft_slice_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced scroll (reference: search/slice/SliceBuilder.java:82):
    3 disjoint hash slices of the matched set; their union must equal
    the unsliced result (the oracle is the full match SQL — any
    dropped or duplicated doc across slices breaks the hash)."""
    eng = _engine(spark, sf_dir)
    # precondition assert (same style as the d_ngram_jaccard guard): the
    # oracle is the FULL match set, so a slice must never hit the top-k
    # cap — fail loudly instead of silently truncating at larger sf
    n_matches = eng.count({"match": {"text": "hash join"}})
    k = 5000
    assert n_matches < k, (
        f"ft_slice_union: {n_matches} matches >= per-slice cap {k}")
    parts = []
    for sid in range(3):
        hits = eng.search({"match": {"text": "hash join"}}, k=k,
                          slice_={"id": sid, "max": 3})
        parts.append(hits.select(
            F.col("docId").alias("doc_id"),
            F.round("score", 4).alias("score")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _committed(ix_dir: str) -> bool:
    """Whether ``ix_dir`` holds a finished index in the current format
    (a manifest with a ``commit``); anything else is rebuilt."""
    import json as _json

    try:
        with open(os.path.join(ix_dir, "manifest.json")) as fh:
            m = _json.load(fh)
    except OSError:
        return False
    return "commit" in m and m.get("build", {}).get("done", False)


def _aux_index_dir(sf_dir: str, tag: str) -> str:
    """Cached auxiliary index dir under CACHE_ROOT (same lifecycle as
    the ftix_* caches). A dir without the _ENTRY_DONE marker is a
    crashed partial build, and one holding an index of an older format
    (a manifest without ``commit``, at the root or one level down) is
    stale — wipe both so the entry rebuilds cleanly."""
    import glob as _glob
    import shutil as _shutil

    key = os.path.abspath(sf_dir).strip("/").replace("/", "_")
    d = os.path.join(CACHE_ROOT, f"aux_{tag}_{key}")
    manifests = (_glob.glob(os.path.join(d, "manifest.json"))
                 + _glob.glob(os.path.join(d, "*", "manifest.json")))
    if os.path.exists(d) and (
            not os.path.exists(os.path.join(d, "_ENTRY_DONE"))
            or not all(_committed(os.path.dirname(m)) for m in manifests)):
        _shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _r_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reindex (reference: modules/reindex Reindexer.java:92): filter
    lang='en' into a FRESH index, then search it — scores must reflect
    the destination's own statistics (N, df, avgdl of the en-only
    corpus), which the oracle reproduces over the filtered table."""
    from opensearch_spark.index.reindex import reindex
    from opensearch_spark.search import dsl as dsl_mod

    eng = _engine(spark, sf_dir)
    dest = _aux_index_dir(sf_dir, "reindex_en")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        reindex(spark, eng, dest, query={"term": {"lang": "en"}},
                n_segments=4)
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    sub = eng.corpus.where(F.col("lang") == "en")
    e2 = SearchEngine(spark, dest, corpus=sub, text_field="text",
                      doc_id_col="docId")
    return _scored(e2.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


_R_REINDEX_SQL = (
    "WITH fdocs AS (SELECT * FROM documents WHERE lang = 'en'),\n"
    + O.base_ctes(table="fdocs") + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _r_add_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NRT refresh (reference: InternalEngine refresh / segment
    generations): build over HALF the corpus, add_batch the other half,
    search the result. The oracle is the plain full-corpus match SQL —
    any drift in merged df/avgdl/N across generations shifts a score
    and breaks the hash."""
    from opensearch_spark.index.incremental import add_batch
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    first = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    dest = _aux_index_dir(sf_dir, "nrt")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, first, dest, text_col="text",
                    doc_id_col="doc_id", n_segments=4)
        add_batch(spark, rest, dest, text_col="text", doc_id_col="doc_id")
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                      doc_id_col="doc_id")
    return _scored(eng.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


def _ft_pit_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT lifecycle stability (reference: CreatePitController.java:52 —
    a PIT holds segment references across merges and updates): build,
    open a PIT, then compact_index AND upsert_batch (the upsert strips
    the query terms from a deterministic slice of matching docs). The
    PIT reader must still return the ORIGINAL snapshot — the oracle is
    the plain pre-mutation match SQL, so any leak of the new generation
    (missing victims, shifted df/avgdl) breaks the hash."""
    import json as _json

    from opensearch_spark.index.incremental import compact_index, upsert_batch
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "pitlife")
    token_path = os.path.join(dest, "pit_token.json")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text",
                    doc_id_col="doc_id", n_segments=4)
        live = SearchEngine(spark, dest, corpus=docs, text_field="text",
                            doc_id_col="doc_id")
        pit = live.open_pit()
        with open(token_path, "w") as fh:
            _json.dump(pit, fh)
        compact_index(spark, dest, target_segments=2)
        victims = docs.where(
            F.col("text").contains("hash") & (F.col("doc_id") % 7 == 0)
        ).withColumn("text", F.lit("rewritten body without the terms"))
        upsert_batch(spark, victims, dest, text_col="text",
                     doc_id_col="doc_id")
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    with open(token_path) as fh:
        pit = _json.load(fh)
    pinned = SearchEngine(spark, dest, corpus=docs, text_field="text",
                          doc_id_col="doc_id", pit=pit)
    return _scored(pinned.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


_FT_PIT_STABILITY_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + "\nSELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score FROM m0"
)


def _ft_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_count` API (reference: RestCountAction.java — a search
    with size=0 whose only result is the matched-doc total): bool
    must-match + a term filter on a corpus field, counted without a
    top-k heap or fetch phase."""
    eng = _engine(spark, sf_dir)
    return eng.count_frame({"bool": {
        "must": [{"match": {"text": "hash join"}}],
        "filter": [{"term": {"lang": "en"}}],
    }})


_FT_COUNT_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + """
    SELECT CAST(count(*) AS BIGINT) AS total
    FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    WHERE d.lang = 'en'
    """
)


def _ft_mget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_mget` API (reference: TransportMultiGetAction.java): point
    lookups by id with source filtering; unknown ids yield no row. The
    id list spans present and absent ids so the found-only contract is
    what the oracle checks."""
    eng = _engine(spark, sf_dir)
    ids = [0, 1, 2, 5, 8, 13, 21, 34, 55, 999_999_999]
    out = eng.mget(ids, source_includes=["lang", "n_chars"])
    return out.select(
        F.col("docId").alias("doc_id"), "lang",
        F.col("n_chars").cast("long").alias("n_chars"))


_FT_MGET_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id IN (0, 1, 2, 5, 8, 13, 21, 34, 55, 999999999)
"""


def _ft_terminate_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terminate_after (reference: EarlyTerminatingCollector wired
    through SearchSourceBuilder.terminateAfter): each segment collects
    its matching docs in docId order and stops after 5 — the
    deterministic analog of Lucene's per-leaf doc-id collection order.
    A dedicated 4-segment index is built in checkpointed waves
    (waves=2), whose segment assignment is the documented
    ``seg = pmod(docId, 4)`` (index/build.py ``by_seg``; a waves=1
    build sets seg by physical partition id, which no SQL oracle can
    reproduce) — so the oracle replays the exact per-segment cut."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "termafter")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text",
                    doc_id_col="doc_id", n_segments=4, waves=2)
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.search({"match": {"text": "hash join"}},
                              k=10000, terminate_after=5))


_FT_TERMINATE_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + """,
    ranked AS (
      SELECT doc_id, raw,
             row_number() OVER (PARTITION BY doc_id % 4
                                ORDER BY doc_id) AS rn
      FROM m0
    )
    SELECT doc_id, round(raw, 4) AS score FROM ranked WHERE rn <= 5
    """
)


def _ft_search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_search/template` (reference: lang-mustache
    MustacheScriptEngine.java + RestSearchTemplateAction): a stored
    Mustache template with a variable substitution AND a conditional
    section renders into a bool query, is executed, and the full hit
    set is returned — certifying render + execute end-to-end (the
    template hot path the bench's hot-template metric times)."""
    eng = _engine(spark, sf_dir)
    eng.templates.put("certify_tpl", (
        '{"query": {"bool": {"must": [{"match": {"text": "{{q}}"}}]'
        '{{#use_filter}}, "filter": [{"term": {"lang": "{{lang}}"}}]'
        '{{/use_filter}}}}, "size": 10000}'
    ))
    out = eng.search_template({
        "id": "certify_tpl",
        "params": {"q": "hash join", "use_filter": True, "lang": "en"},
    })
    return _scored(out["hits"])


_FT_SEARCH_TEMPLATE_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"])
    + """
    SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
    FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
    WHERE d.lang = 'en'
    """
)


def _ft_msearch_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_msearch/template` (reference: MultiSearchTemplateAction): two
    stored-template renders executed as ONE msearch job; the full
    per-qid hit sets must equal the two rendered queries' match SQL."""
    eng = _engine(spark, sf_dir)
    eng.templates.put(
        "certify_mst",
        '{"query": {"match": {"text": "{{q}}"}}, "size": 10000}')
    out = eng.msearch_template([
        {"id": "certify_mst", "params": {"q": "hash join"}},
        {"id": "certify_mst", "params": {"q": "merge sort"}},
    ])
    return out.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("docId").alias("doc_id"),
        F.round("score", 4).alias("score"))


_FT_MSEARCH_TEMPLATE_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"]) + ",\n"
    + O._match_clause_sql("m1", ["merge", "sort"])
    + """
    SELECT CAST(0 AS BIGINT) AS qid, doc_id, round(raw, 4) AS score FROM m0
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS qid, doc_id, round(raw, 4) AS score FROM m1
    """
)


def _r_force_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force-merge (reference: the `_forcemerge` endpoint ->
    InternalEngine#forceMerge): build at 4 segments, compact to 1,
    search the merged index. The oracle is the plain full-corpus match
    SQL — any df/avgdl/N drift introduced by the merge breaks the
    hash."""
    from opensearch_spark.index.incremental import compact_index
    from opensearch_spark.search import dsl as dsl_mod

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dest = _aux_index_dir(sf_dir, "fmerge")
    if not os.path.exists(os.path.join(dest, "_ENTRY_DONE")):
        build_index(spark, docs, dest, text_col="text",
                    doc_id_col="doc_id", n_segments=4)
        compact_index(spark, dest, target_segments=1)
        open(os.path.join(dest, "_ENTRY_DONE"), "w").close()
    eng = SearchEngine(spark, dest, corpus=docs, text_field="text",
                       doc_id_col="doc_id")
    return _scored(eng.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


def _ft_suggest_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term suggester (reference: search/suggest/term/TermSuggester.java):
    dictionary candidates within 2 edits sharing the first letter,
    ordered by (distance asc, doc freq desc, term asc)."""
    eng = _engine(spark, sf_dir)
    sug = eng.suggest("hasj tabel", size=5)
    rows = [(tok, s["text"], int(s["freq"]), int(s["distance"]))
            for tok, lst in sug.items() for s in lst]
    return spark.createDataFrame(
        rows, "input_token string, text string, freq long, distance long")


_FT_SUGGEST_SQL = (
    "WITH " + O.base_ctes() + """,
    inp(tok) AS (VALUES ('hasj'), ('tabel')),
    cand AS (
      SELECT i.tok AS input_token, d.term AS text,
             CAST(d.df AS BIGINT) AS freq,
             CAST(levenshtein(d.term, i.tok) AS BIGINT) AS distance,
             row_number() OVER (
               PARTITION BY i.tok
               ORDER BY levenshtein(d.term, i.tok), d.df DESC, d.term
             ) AS rn
      FROM inp i JOIN dfreq d
        ON substr(d.term, 1, 1) = substr(i.tok, 1, 1)
       AND length(d.term) BETWEEN length(i.tok) - 2 AND length(i.tok) + 2
       AND levenshtein(d.term, i.tok) <= 2
       AND d.term <> i.tok
      -- suggest_mode='missing' (the engine default): in-dictionary
      -- input tokens get NO suggestions
      WHERE NOT EXISTS (SELECT 1 FROM dfreq x WHERE x.term = i.tok)
    )
    SELECT input_token, text, freq, distance FROM cand WHERE rn <= 5"""
)


_A_QUERIES = {
    "ft_search_template": _ft_search_template,
    "ft_msearch_template": _ft_msearch_template,
    "ft_count": _ft_count,
    "ft_mget": _ft_mget,
    "ft_terminate_after": _ft_terminate_after,
    "r_force_merge": _r_force_merge,
    "ft_painless_score": _ft_painless_score,
    "ft_painless_stmt": _ft_painless_stmt,
    "ft_painless_loop": _ft_painless_loop,
    "ft_painless_foreach": _ft_painless_foreach,
    "ft_highlight": _ft_highlight,
    "ft_analyze_chain": _ft_analyze_chain,
    "ft_search_pipeline": _ft_search_pipeline,
    "ft_termvectors": _ft_termvectors,
    "ft_suggest_phrase": _ft_suggest_phrase,
    "ft_explain": _ft_explain,
    "ft_derived_fields": _ft_derived_fields,
    "ft_analyze_tokens": _ft_analyze_tokens,
    "ft_suggest_completion": _ft_suggest_completion,
    "ft_flat_object": _ft_flat_object,
    "r_update_by_query": _r_update_by_query,
    "r_update_by_query_painless": _r_update_by_query_painless,
    "r_update_by_query_ctx_op": _r_update_by_query_ctx_op,
    "r_nested_score": _r_nested_score,
    "r_alias_multi_index": _r_alias_multi_index,
    "r_stream_ingest": _r_stream_ingest,
    "ft_msearch_union": _ft_msearch_union,
    "r_snapshot_restore": _r_snapshot_restore,
    "ft_match_only_text": _ft_match_only_text,
    "ft_match_only_phrase": _ft_match_only_phrase,
    "ft_search_as_you_type": _ft_search_as_you_type,
    "ft_exists": _ft_exists,
    "a_global_scope": _a_global_scope,
    "a_cardinality_hll": _a_cardinality_hll,
    "a_percentile_ranks_tdigest": _a_percentile_ranks_tdigest,
    "ft_geo_filter": _ft_geo_filter,
    "ft_geo_polygon": _ft_geo_polygon,
    "ft_script_score_q": _ft_script_score_q,
    "a_star_tree": _a_star_tree,
    "a_geotile_grid": _a_geotile_grid,
    "a_geohash_grid": _a_geohash_grid,
    "a_geo_distance": _a_geo_distance,
    "a_geo_bounds_centroid": _a_geo_bounds_centroid,
    "a_children": _a_children,
    "a_parent": _a_parent,
    "a_moving_avg_hw": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "hw": {"moving_avg": {"buckets_path": "doc_count", "window": 4,
                               "model": "holt_winters",
                               "settings": {"alpha": 0.3, "beta": 0.1,
                                            "gamma": 0.3, "period": 2}}}},
        rounds={"hw": 4},
    ),
    "a_nested_agg": _a_nested_agg,
    "a_ip_range": _a_ip_range,
    "a_variable_width_histogram": _aggs_q(
        {"h": {"variable_width_histogram": {"field": "n_chars",
                                            "buckets": 5}}},
    ),
    "ft_script_sort": _ft_script_sort,
    "a_reverse_nested": _a_reverse_nested,
    "a_scripted_metric": _a_scripted_metric,
    "a_sampler": _aggs_q(
        {"s": {"sampler": {"shard_size": 100, "sort": "n_chars"},
               "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}},
        rounds={"avg_len": 4},
    ),
    "a_diversified_sampler": _aggs_q(
        {"s": {"diversified_sampler": {"shard_size": 60, "field": "lang",
                                       "max_docs_per_value": 20,
                                       "sort": "n_chars"},
               "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}},
        rounds={"avg_len": 4},
    ),
    "a_auto_date_histogram": _aggs_q_table(
        "orders",
        {"h": {"auto_date_histogram": {"field": "o_orderdate", "buckets": 10}}},
    ),
    "a_percentile_ranks": _aggs_q(
        {"pr": {"percentile_ranks": {"field": "n_chars",
                                     "values": [200, 400]}}},
        rounds={"pr_200": 4, "pr_400": 4},
    ),
    "a_moving_avg_ewma": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "mavg": {"moving_avg": {"buckets_path": "doc_count", "window": 3,
                                 "model": "ewma",
                                 "settings": {"alpha": 0.5}}}},
        rounds={"mavg": 4},
    ),
    "a_significant_text": _aggs_q(
        {"sig": {"significant_text": {"field": "text",
                                      "foreground": "lang = 'en'",
                                      "size": 10, "min_doc_count": 3}}},
        rounds={"score": 6},
    ),
    "a_range_overlap": _aggs_q(
        {"r": {"range": {"field": "n_chars",
                         "ranges": [{"to": 300}, {"from": 200, "to": 500},
                                    {"from": 400}]}}},
    ),
    "a_terms_metrics": _aggs_q(
        {"langs": {"terms": {"field": "lang", "size": 5},
                   "aggs": {"avg_len": {"avg": {"field": "n_chars"}},
                            "max_len": {"max": {"field": "n_chars"}}}}},
        rounds={"avg_len": 4},
    ),
    "a_histogram": _aggs_q(
        {"h": {"histogram": {"field": "n_chars", "interval": 100}}},
    ),
    "a_range_buckets": _aggs_q(
        {"r": {"range": {"field": "n_chars",
                         "ranges": [{"to": 200}, {"from": 200, "to": 400},
                                    {"from": 400}]}}},
    ),
    "a_date_histogram_pipeline": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"},
               "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
         "cum": {"cumulative_sum": {"buckets_path": "doc_count"}},
         "diff": {"derivative": {"buckets_path": "doc_count"}}},
        rounds={"rev": 2},
    ),
    "a_composite_after": _aggs_q(
        {"c": {"composite": {"size": 3,
                             "sources": [{"l": {"terms": {"field": "lang"}}}],
                             "after": "de"}}},
    ),
    "a_extended_stats_bucket": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "es": {"extended_stats_bucket": {"buckets_path": "doc_count",
                                          "sigma": 2.0}}},
        rounds={"es_avg": 4, "es_variance": 4, "es_std_deviation": 4,
                "es_upper": 4, "es_lower": 4},
    ),
    "a_percentiles_bucket": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "pct": {"percentiles_bucket": {"buckets_path": "doc_count",
                                        "percents": [25.0, 50.0, 75.0]}}},
        rounds={"pct_p25": 4, "pct_p50": 4, "pct_p75": 4},
    ),
    # --- previously tests-only operators, promoted to oracle rows ---
    "a_terms_order": _aggs_q(
        {"l": {"terms": {"field": "lang", "size": 3,
                         "order": {"avg_len": "desc"}},
               "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}},
        rounds={"avg_len": 4},
    ),
    "a_terms_missing": _a_terms_missing,
    "a_histogram_empty": _a_histogram_empty,
    "a_date_histogram_empty": _a_date_histogram_empty,
    "a_mad": _aggs_q(
        {"l": {"terms": {"field": "lang", "size": 10}},
         "mad": {"median_absolute_deviation": {"field": "n_chars"}}},
        rounds={"mad": 4},
    ),
    "a_rare_terms": _aggs_q(
        {"r": {"rare_terms": {"field": "n_chars", "max_doc_count": 2}}},
    ),
    "a_matrix_stats": _aggs_q_table(
        "lineitem",
        {"ms": {"matrix_stats": {"fields": ["l_quantity", "l_discount",
                                            "l_tax"]}}},
        rounds={"ms_cov_l_quantity_l_discount": 6,
                "ms_corr_l_quantity_l_discount": 6,
                "ms_cov_l_quantity_l_tax": 6,
                "ms_corr_l_quantity_l_tax": 6,
                "ms_cov_l_discount_l_tax": 6,
                "ms_corr_l_discount_l_tax": 6},
    ),
    "a_moving_fn": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "mx": {"moving_fn": {"buckets_path": "doc_count", "window": 3,
                              "script": "MovingFunctions.max(values)"}}},
    ),
    "a_serial_diff": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "sd": {"serial_diff": {"buckets_path": "doc_count", "lag": 2}}},
    ),
    "a_stats_bucket": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"}},
         "st": {"stats_bucket": {"buckets_path": "doc_count"}}},
        rounds={"st_avg": 4},
    ),
    "a_bucket_script_selector": _aggs_q_table(
        "orders",
        {"m": {"date_histogram": {"field": "o_orderdate",
                                  "calendar_interval": "month"},
               "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
         "avg_rev": {"bucket_script": {
             "buckets_path": {"r": "rev", "c": "doc_count"},
             "script": "params.r / params.c"}},
         "keep": {"bucket_selector": {
             "buckets_path": {"c": "doc_count"},
             "script": "params.c >= 15"}}},
        rounds={"rev": 2, "avg_rev": 4},
    ),
}

_A_ORACLES = {
    "ft_painless_score": _FT_PAINLESS_SQL,
    "ft_painless_stmt": _FT_PAINLESS_STMT_SQL,
    "ft_painless_loop": _FT_PAINLESS_LOOP_SQL,
    "ft_painless_foreach": _FT_PAINLESS_FOREACH_SQL,
    "ft_highlight": _FT_HIGHLIGHT_SQL,
    "ft_analyze_chain": _FT_ANALYZE_CHAIN_SQL,
    "ft_search_pipeline": _FT_SEARCH_PIPELINE_SQL,
    "ft_termvectors": _FT_TERMVECTORS_SQL,
    "ft_suggest_phrase": _FT_SUGGEST_PHRASE_SQL,
    "ft_explain": _FT_EXPLAIN_SQL,
    "ft_derived_fields": _FT_DERIVED_FIELDS_SQL,
    "ft_search_template": _FT_SEARCH_TEMPLATE_SQL,
    "ft_msearch_template": _FT_MSEARCH_TEMPLATE_SQL,
    "ft_count": _FT_COUNT_SQL,
    "ft_mget": _FT_MGET_SQL,
    "ft_terminate_after": _FT_TERMINATE_SQL,
    # a force-merged index must score identically to a fresh build
    "r_force_merge": O.match_sql("hash join"),
    "ft_analyze_tokens": _FT_ANALYZE_SQL,
    "ft_suggest_completion": _FT_SUGGEST_COMPLETION_SQL,
    "ft_flat_object": _FT_FLAT_OBJECT_SQL,
    "r_update_by_query": _R_UBQ_SQL,
    "r_update_by_query_painless": _R_UBQ_PAINLESS_SQL,
    "r_update_by_query_ctx_op": _R_UBQ_CTX_OP_SQL,
    "r_nested_score": _R_NESTED_SCORE_SQL,
    "r_alias_multi_index": _R_ALIAS_SQL,
    "r_stream_ingest": _R_STREAM_SQL,
    "ft_msearch_union": _FT_MSEARCH_SQL,
    # restored snapshot == the pre-delete corpus
    "r_snapshot_restore": O.match_sql("hash join"),
    "ft_match_only_text": _FT_MOT_SQL,
    "ft_match_only_phrase": _FT_MOT_PHRASE_SQL,
    "ft_search_as_you_type": _FT_SATY_SQL,
    # exists filter = every-third-doc subtitle is non-null
    "ft_exists": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        WHERE d.n_chars % 3 = 0
    """,
    # global escapes the match scope; the sibling avg stays scoped
    "a_global_scope": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT (SELECT count(*) FROM m0) AS matched_count,
               (SELECT round(avg(n_chars), 4) FROM documents d
                 JOIN m0 ON m0.doc_id = d.doc_id) AS scoped_len,
               (SELECT count(*) FROM documents) AS all_count,
               (SELECT round(avg(n_chars), 4) FROM documents) AS all_len
    """,
    # sparse-regime HLL++ == exact distinct count (threshold >= true
    # cardinality at every test SF)
    "a_cardinality_hll": """
        SELECT l_returnflag, count(DISTINCT l_partkey) AS cardinality
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    # distinct-regime t-digest cdf == mid-distribution cdf, association
    # order mirrored: ((below + at/2) / n) * 100 then round(.,4)
    "a_percentile_ranks_tdigest": """
        SELECT l_returnflag,
               round(((sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END)
                       + 0.5 * sum(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END))
                      / count(*)) * 100.0, 4) AS rank_0,
               round(((sum(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END)
                       + 0.5 * sum(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END))
                      / count(*)) * 100.0, 4) AS rank_1,
               round(((sum(CASE WHEN l_quantity < 49 THEN 1 ELSE 0 END)
                       + 0.5 * sum(CASE WHEN l_quantity = 49 THEN 1 ELSE 0 END))
                      / count(*)) * 100.0, 4) AS rank_2
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "ft_geo_filter": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + f"""
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        WHERE {_DOC_GEO_DIST_M} <= 9000000.0
    """,
    "ft_geo_polygon": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + f"""
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        WHERE {_poly_sql(_POLY_PTS, _DOC_GEO_LAT, _DOC_GEO_LON)}
    """,
    "ft_script_score_q": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id,
               round(m0.raw + d.n_chars / 1000.0, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        WHERE m0.raw + d.n_chars / 1000.0 >= 0.65
    """,
    "a_extended_stats_bucket": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders GROUP BY key_m
        )
        SELECT key_m, doc_count,
               round(avg(doc_count) OVER (), 4) AS es_avg,
               CAST(sum(doc_count) OVER () AS BIGINT) AS es_sum,
               min(doc_count) OVER () AS es_min,
               max(doc_count) OVER () AS es_max,
               count(doc_count) OVER () AS es_count,
               round(var_pop(doc_count) OVER (), 4) AS es_variance,
               round(stddev_pop(doc_count) OVER (), 4) AS es_std_deviation,
               round(avg(doc_count) OVER ()
                     + 2.0 * stddev_pop(doc_count) OVER (), 4) AS es_upper,
               round(avg(doc_count) OVER ()
                     - 2.0 * stddev_pop(doc_count) OVER (), 4) AS es_lower
        FROM b ORDER BY key_m
    """,
    "a_percentiles_bucket": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders GROUP BY key_m
        )
        SELECT key_m, doc_count,
               -- nearest-rank (reference PercentilesBucketPipelineAggregator:
               -- data[round(p/100*(n-1))]), mirrored from the engine
               round(list_sort(list(doc_count) OVER ())[
                 CAST(floor(0.25 * (count(*) OVER () - 1) + 0.5) AS INT) + 1
               ] * 1.0, 4) AS pct_p25,
               round(list_sort(list(doc_count) OVER ())[
                 CAST(floor(0.50 * (count(*) OVER () - 1) + 0.5) AS INT) + 1
               ] * 1.0, 4) AS pct_p50,
               round(list_sort(list(doc_count) OVER ())[
                 CAST(floor(0.75 * (count(*) OVER () - 1) + 0.5) AS INT) + 1
               ] * 1.0, 4) AS pct_p75
        FROM b ORDER BY key_m
    """,
    "a_star_tree": """
        SELECT o_orderstatus, count(*) AS doc_count,
               round(sum(o_totalprice), 2) AS rev,
               round(sum(o_totalprice) / count(*), 4) AS avg_rev
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "a_geohash_grid": _geohash_sql(2, _GEO_SQL_LAT, _GEO_SQL_LON),
    "a_geotile_grid": f"""
        WITH t AS (
          SELECT greatest(0, least(CAST(floor(({_GEO_SQL_LON} + 180.0) / 360.0 * 8.0) AS BIGINT), 7)) AS xt,
                 greatest(0, least(CAST(floor((1.0 - ln(tan(radians({_GEO_SQL_LAT}))
                        + 1.0 / cos(radians({_GEO_SQL_LAT}))) / pi()) / 2.0 * 8.0) AS BIGINT), 7)) AS yt
          FROM events
        )
        SELECT concat('3/', CAST(xt AS VARCHAR), '/', CAST(yt AS VARCHAR)) AS key_g,
               count(*) AS doc_count
        FROM t GROUP BY key_g
        ORDER BY doc_count DESC, key_g LIMIT 100
    """,
    "a_geo_distance": f"""
        SELECT CASE WHEN {_GEO_SQL_DIST_KM} < 2000.0 THEN '*-2000'
                    WHEN {_GEO_SQL_DIST_KM} < 6000.0 THEN '2000-6000'
                    ELSE '6000-*' END AS key_r, count(*) AS doc_count
        FROM events GROUP BY key_r ORDER BY key_r
    """,
    "a_geo_bounds_centroid": f"""
        SELECT count(*) AS doc_count,
               round(max({_GEO_SQL_LAT}), 4) AS gb_top_left_lat,
               round(min({_GEO_SQL_LON}), 4) AS gb_top_left_lon,
               round(min({_GEO_SQL_LAT}), 4) AS gb_bottom_right_lat,
               round(max({_GEO_SQL_LON}), 4) AS gb_bottom_right_lon,
               round(avg({_GEO_SQL_LAT}), 4) AS gc_lat,
               round(avg({_GEO_SQL_LON}), 4) AS gc_lon,
               count(*) AS gc_count
        FROM events
    """,
    "a_children": """
        SELECT c_mktsegment AS key_seg, count(*) AS doc_count,
               round(avg(o_totalprice), 4) AS avg_price
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY doc_count DESC, key_seg LIMIT 10
    """,
    "a_parent": """
        WITH pairs AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem)
        SELECT l_returnflag AS key_f, count(*) AS doc_count,
               round(avg(o_totalprice), 4) AS avg_price
        FROM pairs JOIN orders ON o_orderkey = l_orderkey
        GROUP BY l_returnflag ORDER BY key_f LIMIT 10
    """,
    "a_moving_avg_hw": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        ),
        r AS (
          SELECT key_m, doc_count,
                 row_number() OVER (ORDER BY key_m) AS rn,
                 CAST(lag(doc_count, 3) OVER (ORDER BY key_m) AS DOUBLE) AS l3,
                 CAST(lag(doc_count, 2) OVER (ORDER BY key_m) AS DOUBLE) AS l2,
                 CAST(lag(doc_count, 1) OVER (ORDER BY key_m) AS DOUBLE) AS l1,
                 CAST(doc_count AS DOUBLE) AS l0
          FROM b
        ),
        -- additive Holt-Winters, window=4 period=2 unrolled (mirrors the
        -- engine's HoltWintersModel recursion op-for-op)
        h0 AS (
          SELECT *, (l3 + l2) / 2 AS s0,
                 ((l1 - l3) / 2 + (l0 - l2) / 2) / 2 AS b0
          FROM r
        ),
        h1 AS (SELECT *, l3 - s0 AS sea0, l2 - s0 AS sea1 FROM h0),
        h2 AS (
          SELECT *, 0.3 * (l1 - sea0) + 0.7 * (s0 + b0) AS s2,
                 0.3 * (l1 - (s0 + b0)) + 0.7 * sea0 AS sea2
          FROM h1
        ),
        h3 AS (SELECT *, 0.1 * (s2 - s0) + 0.9 * b0 AS b2 FROM h2),
        h4 AS (SELECT *, 0.3 * (l0 - sea1) + 0.7 * (s2 + b2) AS s3 FROM h3),
        h5 AS (SELECT *, 0.1 * (s3 - s2) + 0.9 * b2 AS b3 FROM h4),
        -- HW coefficients are terminating decimals, so forecasts land
        -- EXACTLY on round-4 half boundaries (e.g. 1881.52455).  Spark's
        -- round() HALF_UPs the double's shortest decimal repr
        -- (BigDecimal.valueOf) while DuckDB's native round() scales the
        -- raw double by 1e4 — they disagree on ...4999999 ties.  Emulate
        -- Spark: VARCHAR cast = shortest repr, DECIMAL round = HALF_UP.
        h6 AS (SELECT key_m, doc_count,
                      CASE WHEN rn < 4 THEN NULL
                           ELSE s3 + b3 + sea2 END AS hw_raw
               FROM h5)
        SELECT key_m, doc_count,
               CAST(round(CAST(CAST(hw_raw AS VARCHAR) AS DECIMAL(38,15)),
                          4) AS DOUBLE) AS hw
        FROM h6 ORDER BY key_m
    """,
    "a_ip_range": f"""
        WITH e AS (
          SELECT concat('10.0.', CAST(user_id % 256 AS VARCHAR), '.',
                        CAST(event_id % 256 AS VARCHAR)) AS ip
          FROM events
        ),
        n AS (
          SELECT CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
               + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
               + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
               + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipn
          FROM e
        )
        SELECT key_r, doc_count FROM (
          SELECT '*-{_IP_RANGES[0]}' AS key_r, count(*) AS doc_count
          FROM n WHERE ipn < {_IP_NUMS[0]}
          UNION ALL
          SELECT '{_IP_RANGES[0]}-{_IP_RANGES[1]}', count(*) FROM n
          WHERE ipn >= {_IP_NUMS[0]} AND ipn < {_IP_NUMS[1]}
          UNION ALL
          SELECT '{_IP_RANGES[1]}-*', count(*) FROM n
          WHERE ipn >= {_IP_NUMS[1]}
        ) ORDER BY key_r
    """,
    "a_variable_width_histogram": """
        WITH b AS (
          SELECT round(quantile_cont(n_chars, 0.2), 6) AS b0,
                 round(quantile_cont(n_chars, 0.4), 6) AS b1,
                 round(quantile_cont(n_chars, 0.6), 6) AS b2,
                 round(quantile_cont(n_chars, 0.8), 6) AS b3
          FROM documents WHERE n_chars IS NOT NULL
        )
        SELECT key_h, count(*) AS doc_count FROM (
          SELECT CASE WHEN n_chars < b0 THEN 0
                      WHEN n_chars < b1 THEN 1
                      WHEN n_chars < b2 THEN 2
                      WHEN n_chars < b3 THEN 3
                      ELSE 4 END AS key_h
          FROM documents, b WHERE n_chars IS NOT NULL
        ) GROUP BY key_h ORDER BY key_h
    """,
    "ft_script_sort": "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash"])
    + """
        SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id
        ORDER BY (d.n_chars % 7) DESC, m0.doc_id ASC
        LIMIT 30
    """,
    "a_nested_agg": """
        SELECT count(*) AS doc_count, round(avg(l_quantity), 4) AS avg_q,
               round(sum(l_extendedprice), 2) AS sum_p
        FROM lineitem
    """,
    "a_reverse_nested": """
        SELECT l_returnflag AS key_flags,
               count(DISTINCT l_orderkey) AS doc_count
        FROM lineitem GROUP BY l_returnflag
        ORDER BY doc_count DESC, key_flags LIMIT 5
    """,
    "a_scripted_metric": """
        SELECT CAST(2 * sum(n_chars) AS DOUBLE) AS sm FROM documents
    """,
    "a_sampler": """
        WITH s AS (SELECT * FROM documents
                   ORDER BY n_chars DESC, doc_id LIMIT 100)
        SELECT count(*) AS doc_count, round(avg(n_chars), 4) AS avg_len FROM s
    """,
    "a_diversified_sampler": """
        WITH d AS (
          SELECT *, row_number() OVER (PARTITION BY lang
                     ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents
        ),
        s AS (SELECT * FROM d WHERE rn <= 20
              ORDER BY n_chars DESC, doc_id LIMIT 60)
        SELECT count(*) AS doc_count, round(avg(n_chars), 4) AS avg_len FROM s
    """,
    "a_auto_date_histogram": """
        SELECT date_trunc('year', o_orderdate) AS key_h, count(*) AS doc_count
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY key_h ORDER BY key_h
    """,
    "a_percentile_ranks": """
        SELECT count(*) AS doc_count,
               round(100.0 * avg(CASE WHEN n_chars <= 200 THEN 1.0 ELSE 0.0 END), 4) AS pr_200,
               round(100.0 * avg(CASE WHEN n_chars <= 400 THEN 1.0 ELSE 0.0 END), 4) AS pr_400
        FROM documents WHERE n_chars IS NOT NULL
    """,
    "a_moving_avg_ewma": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m, count(*) AS doc_count
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        ),
        r AS (
          SELECT key_m, doc_count,
                 row_number() OVER (ORDER BY key_m) AS rn,
                 lag(doc_count, 1) OVER (ORDER BY key_m) AS l1,
                 lag(doc_count, 2) OVER (ORDER BY key_m) AS l2
          FROM b
        )
        SELECT key_m, doc_count,
               round(CASE WHEN rn = 1 THEN doc_count
                          WHEN rn = 2 THEN 0.5 * doc_count + 0.5 * l1
                          ELSE 0.5 * doc_count + 0.5 * (0.5 * l1 + 0.5 * l2)
                     END, 4) AS mavg
        FROM r ORDER BY key_m
    """,
    "a_significant_text": """
        WITH """ + O.base_ctes() + """,
        d AS (SELECT DISTINCT doc_id, term FROM tok),
        fgd AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        counts AS (
          SELECT term, count(*) AS bg_count,
                 CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM fgd)
                     THEN 1 ELSE 0 END) AS BIGINT) AS doc_count
          FROM d GROUP BY term
        ),
        tot AS (SELECT (SELECT count(*) FROM documents) AS n_bg,
                       (SELECT count(*) FROM fgd) AS n_fg)
        SELECT term AS key_sig, doc_count, bg_count,
               round((doc_count * 1.0 / n_fg - bg_count * 1.0 / n_bg)
                     * ((doc_count * 1.0 / n_fg) / (bg_count * 1.0 / n_bg)), 6) AS score
        FROM counts CROSS JOIN tot
        WHERE doc_count >= 3
          AND doc_count * 1.0 / n_fg > bg_count * 1.0 / n_bg
        ORDER BY (doc_count * 1.0 / n_fg - bg_count * 1.0 / n_bg)
                 * ((doc_count * 1.0 / n_fg) / (bg_count * 1.0 / n_bg)) DESC,
                 key_sig
        LIMIT 10
    """,
    "a_range_overlap": """
        SELECT key_r, doc_count FROM (
          SELECT '*-300' AS key_r, count(*) AS doc_count
          FROM documents WHERE n_chars < 300
          UNION ALL
          SELECT '200-500', count(*) FROM documents
          WHERE n_chars >= 200 AND n_chars < 500
          UNION ALL
          SELECT '400-*', count(*) FROM documents WHERE n_chars >= 400
        ) ORDER BY key_r
    """,
    "a_terms_metrics": """
        SELECT lang AS key_langs, count(*) AS doc_count,
               round(avg(n_chars), 4) AS avg_len, max(n_chars) AS max_len
        FROM documents WHERE lang IS NOT NULL
        GROUP BY lang ORDER BY doc_count DESC, key_langs LIMIT 5
    """,
    "a_histogram": """
        SELECT CAST(floor(n_chars / 100.0) * 100.0 AS DOUBLE) AS key_h,
               count(*) AS doc_count
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY key_h ORDER BY key_h
    """,
    "a_range_buckets": """
        SELECT CASE WHEN n_chars < 200 THEN '*-200'
                    WHEN n_chars < 400 THEN '200-400'
                    ELSE '400-*' END AS key_r, count(*) AS doc_count
        FROM documents GROUP BY key_r ORDER BY key_r
    """,
    "a_date_histogram_pipeline": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count,
                 round(sum(o_totalprice), 2) AS rev
          FROM orders GROUP BY key_m
        )
        SELECT key_m, doc_count, rev,
               CAST(sum(doc_count) OVER (ORDER BY key_m) AS BIGINT) AS cum,
               doc_count - lag(doc_count) OVER (ORDER BY key_m) AS diff
        FROM b ORDER BY key_m
    """,
    "a_composite_after": """
        SELECT lang AS key_c, count(*) AS doc_count FROM documents
        WHERE lang > 'de' GROUP BY lang ORDER BY key_c LIMIT 3
    """,
    "a_terms_order": """
        SELECT lang AS key_l, count(*) AS doc_count,
               round(avg(n_chars), 4) AS avg_len
        FROM documents WHERE lang IS NOT NULL
        GROUP BY lang ORDER BY avg(n_chars) DESC, key_l LIMIT 3
    """,
    "a_terms_missing": """
        WITH d AS (
          SELECT CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE lang END AS l2
          FROM documents
        )
        SELECT l2 AS key_l, count(*) AS doc_count
        FROM d GROUP BY l2 ORDER BY doc_count DESC, key_l LIMIT 10
    """,
    "a_histogram_empty": """
        WITH b AS (
          SELECT CAST(floor(((doc_id % 5) * 3.0) / 1.0) * 1.0 AS DOUBLE)
                   AS key_h,
                 count(*) AS doc_count
          FROM documents GROUP BY 1
        ),
        rng AS (
          SELECT unnest(generate_series(
            CAST((SELECT min(key_h) FROM b) AS BIGINT),
            CAST((SELECT max(key_h) FROM b) AS BIGINT), 1)) AS i
        )
        SELECT CAST(i AS DOUBLE) AS key_h,
               coalesce(b.doc_count, 0) AS doc_count
        FROM rng LEFT JOIN b ON b.key_h = CAST(i AS DOUBLE)
        ORDER BY 1
    """,
    "a_date_histogram_empty": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders
          WHERE o_orderkey % 97 = 0 AND o_orderdate IS NOT NULL
          GROUP BY key_m
        ),
        rng AS (
          SELECT unnest(generate_series(
            (SELECT CAST(min(key_m) AS TIMESTAMP) FROM b),
            (SELECT CAST(max(key_m) AS TIMESTAMP) FROM b),
            INTERVAL 1 MONTH)) AS m
        )
        SELECT m AS key_m, coalesce(b.doc_count, 0) AS doc_count
        FROM rng LEFT JOIN b ON CAST(b.key_m AS TIMESTAMP) = m
        ORDER BY 1
    """,
    # exact MAD: median(|x - median|), midpoint-average median on even
    # counts — both sides interpolate identically at p50
    "a_mad": """
        WITH m AS (
          SELECT lang, median(CAST(n_chars AS DOUBLE)) AS med
          FROM documents WHERE lang IS NOT NULL GROUP BY lang
        )
        SELECT d.lang AS key_l, count(*) AS doc_count,
               round(median(abs(CAST(d.n_chars AS DOUBLE) - m.med)), 4) AS mad
        FROM documents d JOIN m ON m.lang = d.lang
        GROUP BY d.lang ORDER BY d.lang
    """,
    "a_rare_terms": """
        SELECT n_chars AS key_r, count(*) AS doc_count
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY 1 HAVING count(*) <= 2 ORDER BY 1
    """,
    "a_matrix_stats": """
        SELECT count(*) AS doc_count,
           round(covar_pop(l_quantity, l_discount), 6) AS ms_cov_l_quantity_l_discount,
           round(corr(l_quantity, l_discount), 6) AS ms_corr_l_quantity_l_discount,
           round(covar_pop(l_quantity, l_tax), 6) AS ms_cov_l_quantity_l_tax,
           round(corr(l_quantity, l_tax), 6) AS ms_corr_l_quantity_l_tax,
           round(covar_pop(l_discount, l_tax), 6) AS ms_cov_l_discount_l_tax,
           round(corr(l_discount, l_tax), 6) AS ms_corr_l_discount_l_tax
        FROM lineitem
    """,
    # moving_fn default shift=0 EXCLUDES the current bucket (reference
    # MovFnPipelineAggregator.java:136: window = [i-window+shift, i+shift))
    "a_moving_fn": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        )
        SELECT key_m, doc_count,
               max(doc_count) OVER (ORDER BY key_m
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mx
        FROM b ORDER BY key_m
    """,
    "a_serial_diff": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        )
        SELECT key_m, doc_count,
               doc_count - lag(doc_count, 2) OVER (ORDER BY key_m) AS sd
        FROM b ORDER BY key_m
    """,
    "a_stats_bucket": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        )
        SELECT key_m, doc_count,
               round(avg(doc_count) OVER (), 4) AS st_avg,
               CAST(sum(doc_count) OVER () AS BIGINT) AS st_sum,
               min(doc_count) OVER () AS st_min,
               max(doc_count) OVER () AS st_max
        FROM b ORDER BY key_m
    """,
    # bucket_script computes from the UNROUNDED sum; rounding applies to
    # the final columns only (same order as the engine facade)
    "a_bucket_script_selector": """
        WITH b AS (
          SELECT date_trunc('month', o_orderdate) AS key_m,
                 count(*) AS doc_count,
                 sum(o_totalprice) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY key_m
        )
        SELECT key_m, doc_count, round(rev, 2) AS rev,
               round(rev / doc_count, 4) AS avg_rev
        FROM b WHERE doc_count >= 15 ORDER BY key_m
    """,
}


CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

_ENGINES: dict[str, SearchEngine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    key = os.path.abspath(sf_dir)
    eng = _ENGINES.get(key)
    if eng is not None and eng.spark is spark:
        return eng
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ix_dir = os.path.join(CACHE_ROOT, "ftix_" + key.strip("/").replace("/", "_"))
    if not _committed(ix_dir):
        build_index(
            spark, docs, ix_dir, text_col="text", doc_id_col="doc_id", n_segments=8
        )
    # deterministic geo_point column so geo queries are exercisable on
    # the same corpus (same derivation as the geo agg oracles)
    docs = docs.withColumn(
        "location",
        F.struct(
            ((F.col("doc_id") * 37 % 14000) / 100.0 - 70.0).alias("lat"),
            ((F.col("doc_id") * 91 % 34000) / 100.0 - 170.0).alias("lon"),
        ),
    )
    # deterministic NULLABLE column (set on every third doc) so `exists`
    # queries are exercisable: the fixed-schema tables carry no nulls
    docs = docs.withColumn(
        "subtitle",
        F.when(F.col("n_chars") % 3 == 0, F.col("source")),
    )
    eng = SearchEngine(
        spark, ix_dir, corpus=docs, text_field="text", doc_id_col="doc_id"
    )
    _ENGINES[key] = eng
    return eng


_MF_ENGINES: dict[str, "object"] = {}


def _engine_mf(spark: SparkSession, sf_dir: str):
    """Multi-field engine: text + source fields, one index per field
    (reference: per-field inverted indexes inside one Lucene index)."""
    from opensearch_spark.search.engine import MultiFieldEngine

    key = os.path.abspath(sf_dir)
    eng = _MF_ENGINES.get(key)
    if eng is not None and eng.spark is spark:
        return eng
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = os.path.join(CACHE_ROOT, "ftix_" + key.strip("/").replace("/", "_"))
    src_dir = base + "_srcfield"
    if not _committed(src_dir):
        build_index(
            spark, docs, src_dir, text_col="source", doc_id_col="doc_id",
            n_segments=4,
        )
    if not _committed(base):
        build_index(
            spark, docs, base, text_col="text", doc_id_col="doc_id", n_segments=8
        )
    eng = MultiFieldEngine(
        spark, {"text": base, "source": src_dir}, corpus=docs,
        doc_id_col="doc_id",
    )
    _MF_ENGINES[key] = eng
    return eng


def _mf(dsl: dict) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from opensearch_spark.search import dsl as dsl_mod

        eng = _engine_mf(spark, sf_dir)
        return _scored(eng.compile(dsl_mod.parse(dsl)))
    return fn


def _scored(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("docId").alias("doc_id"), F.round("score", 4).alias("score")
    )


def _ft(dsl: dict) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        from opensearch_spark.search import dsl as dsl_mod

        return _scored(eng.compile(dsl_mod.parse(dsl)))
    return fn


def _s_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector search: BM25 match over documents.text +
    brute-force cosine kNN over embeddings (vec_id IS the doc id),
    min_max-normalized per sub-query and combined 0.7/0.3 arithmetic.

    The reference core exposes the search-pipeline phase-results hook
    this plugs into (server/src/main/java/org/opensearch/search/
    pipeline/SearchPhaseResultsProcessor.java); the hybrid semantics
    follow opensearch_spark/search/hybrid.py's documented conventions.
    """
    from opensearch_spark.search.hybrid import hybrid_search

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 7).select("embedding").head()[0]]
    out = hybrid_search(
        eng,
        [{"match": {"text": {"query": "data join", "operator": "or"}}}],
        knn={"query_vector": qv, "k": 200},
        emb=emb,
        weights=[0.7, 0.3],
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 4).alias("score")
    )


_S_HYBRID_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", O.tokenize("data join"), "or", 0)
    + """,
bm AS (SELECT doc_id, round(raw, 4) AS s FROM m0),
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
kn AS (
  SELECT e.vec_id AS doc_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v::DOUBLE[]), 5) AS s
  FROM embeddings e, qv
  ORDER BY s DESC, e.vec_id ASC
  LIMIT 200
),
bs AS (SELECT min(s) AS mn, max(s) AS mx FROM bm),
ks AS (SELECT min(s) AS mn, max(s) AS mx FROM kn),
bn AS (SELECT doc_id,
              CASE WHEN bs.mx = bs.mn THEN CAST(1.0 AS DOUBLE)
                   ELSE (s - bs.mn) / (bs.mx - bs.mn) END AS n
       FROM bm, bs),
kv AS (SELECT doc_id,
              CASE WHEN ks.mx = ks.mn THEN CAST(1.0 AS DOUBLE)
                   ELSE (s - ks.mn) / (ks.mx - ks.mn) END AS n
       FROM kn, ks)
SELECT COALESCE(b.doc_id, k.doc_id) AS doc_id,
       round((CAST(0.7 AS DOUBLE) * COALESCE(b.n, CAST(0.0 AS DOUBLE))
            + CAST(0.3 AS DOUBLE) * COALESCE(k.n, CAST(0.0 AS DOUBLE)))
             / CAST(1.0 AS DOUBLE), 4) AS score
FROM bn b FULL OUTER JOIN kv k ON b.doc_id = k.doc_id
"""
)


def _ft_scripted_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scripted similarity (reference: SimilarityService.java:116): the
    pluggable per-field scorer — here tf-saturation * raw idf,
    tf/(tf+1) * ln(N/df), as a vectorized numpy hook."""
    import numpy as np

    _engine(spark, sf_dir)  # ensure the cached index exists
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key = os.path.abspath(sf_dir)
    ix_dir = os.path.join(CACHE_ROOT, "ftix_" + key.strip("/").replace("/", "_"))

    def sim(tf, df, dl_q, avgdl, n):
        return tf / (tf + 1.0) * np.log(n / float(df))

    eng = SearchEngine(
        spark, ix_dir, corpus=docs, text_field="text", doc_id_col="doc_id",
        similarity=sim,
    )
    from opensearch_spark.search import dsl as dsl_mod

    return _scored(eng.compile(dsl_mod.parse({"match": {"text": "hash join"}})))


_FT_SCRIPTED_SIM_SQL = (
    "WITH " + O.base_ctes() + """,
    qt(term) AS (VALUES ('hash'), ('join'))
    SELECT f.doc_id AS doc_id,
           round(sum(f.tf / (f.tf + 1.0) * ln(gl.n * 1.0 / d.df)), 4) AS score
    FROM tf f
    JOIN qt USING (term)
    JOIN dfreq d USING (term)
    CROSS JOIN gl
    GROUP BY f.doc_id"""
)


def _ft_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    m = eng._load_term_df_map()
    top = sorted(m, key=lambda t: (-m[t], t))[:25]
    return spark.createDataFrame([(t, m[t], eng._term_ttf[t]) for t in top],
                                 "term string, df long, ttf long")


def _ft_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return eng.docstats.where(F.col("dl") > 0).select(
        F.col("docId").alias("doc_id"), "dl", "dl_q"
    )


# ---- registry ---------------------------------------------------------------

_FT_QUERIES: dict[str, tuple[dict, str]] = {
    # name -> (DSL for the Spark engine, oracle SQL)
    "ft_match_or": (
        {"match": {"text": "hash join table"}},
        O.match_sql("hash join table"),
    ),
    "ft_match_and": (
        {"match": {"text": {"query": "vector stream window", "operator": "and"}}},
        O.match_sql("vector stream window", operator="and"),
    ),
    "ft_match_msm": (
        {"match": {"text": {"query": "merge group sort filter", "minimum_should_match": 3}}},
        O.match_sql("merge group sort filter", msm=3),
    ),
    "ft_match_missing_term": (
        {"match": {"text": "hash zzzmissingterm"}},
        O.match_sql("hash zzzmissingterm"),
    ),
    "ft_phrase_2": (
        {"match_phrase": {"text": "table hash"}},
        O.phrase_sql("table hash"),
    ),
    "ft_phrase_3": (
        {"match_phrase": {"text": "slow hash batch"}},
        O.phrase_sql("slow hash batch"),
    ),
    "ft_phrase_sloppy": (
        {"match_phrase": {"text": {"query": "hash table", "slop": 2}}},
        O.sloppy_phrase_sql("hash table", 2),
    ),
    # repeated-term sloppy phrase: Lucene repeat-group bookkeeping
    # (bm25._lucene_sloppy_walk_rpt); oracle = the 2-slot closed form
    "ft_phrase_sloppy_repeat": (
        {"match_phrase": {"text": {"query": "vector vector", "slop": 2}}},
        O.sloppy_phrase_repeat_sql("vector vector", 2),
    ),
    "ft_phrase_absent": (
        {"match_phrase": {"text": "hash hash hash hash"}},
        O.phrase_sql("hash hash hash hash"),
    ),
    "ft_bool_must_should": (
        {
            "bool": {
                "must": [{"match": {"text": "customer"}}],
                "should": [
                    {"match": {"text": "vector"}},
                    {"match": {"text": "stream"}},
                ],
                "minimum_should_match": 1,
            }
        },
        O.bool_sql(
            must=[{"kind": "match", "query": "customer"}],
            should=[
                {"kind": "match", "query": "vector"},
                {"kind": "match", "query": "stream"},
            ],
            msm=1,
        ),
    ),
    "ft_bool_must_not": (
        {
            "bool": {
                "must": [{"match": {"text": "scan filter"}}],
                "must_not": [{"match": {"text": "vector"}}],
            }
        },
        O.bool_sql(
            must=[{"kind": "match", "query": "scan filter"}],
            must_not=[{"kind": "match", "query": "vector"}],
        ),
    ),
    "ft_bool_should_only": (
        {
            "bool": {
                "should": [
                    {"match": {"text": {"query": "big vector", "operator": "and"}}},
                    {"match_phrase": {"text": "table hash"}},
                ],
                "minimum_should_match": 1,
            }
        },
        O.bool_sql(
            should=[
                {"kind": "match", "query": "big vector", "operator": "and"},
                {"kind": "phrase", "query": "table hash"},
            ],
            msm=1,
        ),
    ),
    "ft_bool_meta_filter": (
        {
            "bool": {
                "must": [{"match": {"text": "group order"}}],
                "filter": [{"term": {"lang": "en"}}],
            }
        },
        O.bool_sql(
            must=[{"kind": "match", "query": "group order"}],
            filter_sql="lang = 'en'",
        ),
    ),
    "ft_prefix": (
        {"prefix": {"text": "cu"}},
        O.multi_term_sql("prefix", "cu"),
    ),
    "ft_wildcard": (
        {"wildcard": {"text": "c*n"}},
        O.multi_term_sql("wildcard", "c*n"),
    ),
    # leading wildcard: no prefix range narrows it, so the pattern is
    # matched against every term of the engine's dictionary
    "ft_wildcard_leading": (
        {"wildcard": {"text": "*er"}},
        O.multi_term_sql("wildcard", "*er"),
    ),
    "ft_regexp": (
        {"regexp": {"text": "b.t.h"}},
        O.multi_term_sql("regexp", "b.t.h"),
    ),
    "ft_fuzzy": (
        {"fuzzy": {"text": {"value": "scann", "fuzziness": 1}}},
        O.multi_term_sql("fuzzy", "scann", fuzziness=1),
    ),
    "ft_match_bool_prefix": (
        {"match_bool_prefix": {"text": "table ha"}},
        O.match_bool_prefix_sql("table ha"),
    ),
    "ft_phrase_prefix": (
        {"match_phrase_prefix": {"text": "table ha"}},
        O.phrase_prefix_sql("table ha"),
    ),
    "ft_more_like_this": (
        {"more_like_this": {"fields": ["text"], "like": {"_id": 7},
                            "max_query_terms": 10}},
        O.mlt_sql(7, 10),
    ),
    "ft_function_score": (
        {
            "function_score": {
                "query": {"match": {"text": "hash"}},
                "field_value_factor": {"field": "n_chars", "modifier": "log1p"},
                "boost_mode": "multiply",
            }
        },
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["hash"])
        + """
        SELECT m0.doc_id AS doc_id,
               round(m0.raw * ln(1 + d.n_chars * 1.0), 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id""",
    ),
    "ft_boosting": (
        {
            "boosting": {
                "positive": {"match": {"text": "scan filter"}},
                "negative": {"match": {"text": "vector"}},
                "negative_boost": 0.3,
            }
        },
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["scan", "filter"]) + ",\n"
        + O._match_clause_sql("n0", ["vector"])
        + """
        SELECT m0.doc_id AS doc_id,
               round(m0.raw * (CASE WHEN n0.doc_id IS NOT NULL THEN 0.3 ELSE 1.0 END), 4) AS score
        FROM m0 LEFT JOIN n0 ON n0.doc_id = m0.doc_id""",
    ),
    "ft_terms_set": (
        {"terms_set": {"text": {"terms": ["hash", "join", "vector"],
                                "minimum_should_match": 2}}},
        O.match_sql("hash join vector", msm=2),
    ),
    "ft_script_filter": (
        {"script": {"script": {"source": "n_chars > 400"}}},
        "SELECT doc_id, 1.0 AS score FROM documents WHERE n_chars > 400",
    ),
    "ft_common_terms": (
        {"common": {"text": {"query": "dup scan filter",
                             "cutoff_frequency": 0.35}}},
        O.common_terms_sql("dup scan filter", 0.35),
    ),
    # query_string / simple_query_string (Lucene syntax parsers ->
    # same AST -> same oracle shapes)
    "ft_query_string": (
        {"query_string": {"query": '"table hash" OR vector',
                          "default_field": "text"}},
        O.bool_sql(
            should=[
                {"kind": "phrase", "query": "table hash"},
                {"kind": "match", "query": "vector"},
            ],
            msm=1,
        ),
    ),
    "ft_query_string_ops": (
        {"query_string": {"query": "+scan filter -vector",
                          "default_field": "text"}},
        O.bool_sql(
            must=[{"kind": "match", "query": "scan"}],
            should=[{"kind": "match", "query": "filter"}],
            must_not=[{"kind": "match", "query": "vector"}],
            msm=0,
        ),
    ),
    "ft_query_string_and": (
        {"query_string": {"query": "hash AND join", "default_field": "text"}},
        O.bool_sql(
            must=[{"kind": "match", "query": "hash"},
                  {"kind": "match", "query": "join"}],
        ),
    ),
    # "a b"~N parses to a sloppy phrase, executed slop-exact
    "ft_query_string_slop": (
        {"query_string": {"query": '"hash table"~2', "default_field": "text"}},
        O.sloppy_phrase_sql("hash table", 2),
    ),
    "ft_simple_query_string": (
        {"simple_query_string": {"query": "+big +vector", "fields": ["text"]}},
        O.bool_sql(
            must=[{"kind": "match", "query": "big"},
                  {"kind": "match", "query": "vector"}],
        ),
    ),
    # span family + intervals (constant-score positional algebra)
    "ft_span_near": (
        {"span_near": {"clauses": [
            {"span_term": {"text": "table"}},
            {"span_term": {"text": "hash"}},
        ], "slop": 2, "in_order": True}},
        O.span_near_sql("table", "hash", 2, in_order=True),
    ),
    "ft_span_first": (
        {"span_first": {"match": {"span_term": {"text": "customer"}}, "end": 4}},
        O.span_first_sql("customer", 4),
    ),
    "ft_span_or": (
        {"span_or": {"clauses": [
            {"span_term": {"text": "vector"}},
            {"span_term": {"text": "stream"}},
        ]}},
        O.span_or_sql(["vector", "stream"]),
    ),
    "ft_span_not": (
        {"span_not": {
            "include": {"span_near": {"clauses": [
                {"span_term": {"text": "table"}},
                {"span_term": {"text": "hash"}},
            ], "slop": 2, "in_order": True}},
            "exclude": {"span_term": {"text": "scan"}},
        }},
        O.span_not_near_sql("table", "hash", 2, "scan"),
    ),
    "ft_intervals_ordered": (
        {"intervals": {"text": {"match": {
            "query": "vector stream", "max_gaps": 3, "ordered": True}}}},
        O.span_near_sql("vector", "stream", 3, in_order=True),
    ),
    "ft_intervals_unordered": (
        {"intervals": {"text": {"match": {
            "query": "vector stream", "max_gaps": 3, "ordered": False}}}},
        O.span_near_sql("vector", "stream", 3, in_order=False),
    ),
    "ft_bool_must_phrase": (
        {
            "bool": {
                "must": [
                    {"match_phrase": {"text": "part filter"}},
                    {"match": {"text": "scan"}},
                ],
            }
        },
        O.bool_sql(
            must=[
                {"kind": "phrase", "query": "part filter"},
                {"kind": "match", "query": "scan"},
            ],
        ),
    ),
    # function_score: decay / random / script functions (reference:
    # index/query/functionscore/FunctionScoreQueryBuilder.java:74)
    "ft_function_score_gauss": (
        {
            "function_score": {
                "query": {"match": {"text": "hash"}},
                "functions": [{"gauss": {"n_chars": {
                    "origin": 300, "scale": 200, "decay": 0.5}}}],
                "boost_mode": "multiply",
            }
        },
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["hash"])
        + f"""
        SELECT m0.doc_id AS doc_id,
               round(m0.raw * exp(-(power(greatest(0.0, abs(d.n_chars - 300.0)), 2))
                     / {2.0 * (-(200.0 * 200.0) / (2.0 * math.log(0.5)))!r}), 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id""",
    ),
    "ft_random_score": (
        {
            "function_score": {
                "query": {"match": {"text": "scan"}},
                "functions": [{"random_score": {"seed": 42}}],
                "boost_mode": "multiply",
            }
        },
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["scan"])
        + f"""
        SELECT m0.doc_id AS doc_id,
               round(m0.raw * {O.random_uniform_sql('42', 'm0.doc_id')}, 4) AS score
        FROM m0""",
    ),
    "ft_script_score": (
        {
            "function_score": {
                "query": {"match": {"text": "filter"}},
                "functions": [{"script_score": {"script": {
                    "source": "sqrt(n_chars) + 1.0"}}}],
                "boost_mode": "sum",
            }
        },
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["filter"])
        + """
        SELECT m0.doc_id AS doc_id,
               round(m0.raw + sqrt(d.n_chars) + 1.0, 4) AS score
        FROM m0 JOIN documents d ON d.doc_id = m0.doc_id""",
    ),
    # span containment + interval filters (reference:
    # SpanWithinQueryBuilder / SpanContainingQueryBuilder / IntervalFilter)
    "ft_span_within": (
        {"span_within": {
            "little": {"span_term": {"text": "scan"}},
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "table"}},
                {"span_term": {"text": "hash"}},
            ], "slop": 6, "in_order": True}},
        }},
        O.span_within_sql("table", "hash", 6, "scan"),
    ),
    "ft_span_containing": (
        {"span_containing": {
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "group"}},
                {"span_term": {"text": "order"}},
            ], "slop": 8, "in_order": True}},
            "little": {"span_term": {"text": "filter"}},
        }},
        O.span_containing_sql("group", "order", 8, "filter"),
    ),
    "ft_span_multi": (
        {"span_multi": {"match": {"prefix": {"text": "cu"}}}},
        O.multi_term_sql("prefix", "cu"),
    ),
    "ft_intervals_filter": (
        {"intervals": {"text": {"match": {
            "query": "vector stream", "max_gaps": 6, "ordered": True,
            "filter": {"not_containing": {"match": {"query": "scan"}}},
        }}}},
        O.intervals_not_containing_sql("vector", "stream", 6, "scan"),
    ),
    # rank_feature (reference: RankFeatureQueryBuilder / Lucene
    # FeatureField saturation)
    "ft_rank_feature": (
        {"rank_feature": {"field": "n_chars", "saturation": {"pivot": 300}}},
        """
        SELECT doc_id, round(n_chars / (n_chars + 300.0), 4) AS score
        FROM documents WHERE n_chars > 0
        """,
    ),
    # pinned (reference: search-pinned module): listed ids first, organic after
    "ft_pinned": (
        {"pinned": {"ids": [3, 7, 11], "organic": {"match": {"text": "hash"}}}},
        "WITH " + O.base_ctes() + ",\n"
        + O._match_clause_sql("m0", ["hash"])
        + """
        SELECT doc_id, score FROM (
          SELECT m0.doc_id AS doc_id, round(m0.raw, 4) AS score
          FROM m0 WHERE m0.doc_id NOT IN (3, 7, 11)
          UNION ALL SELECT 3, 1000000000.0
          UNION ALL SELECT 7, 999999999.0
          UNION ALL SELECT 11, 999999998.0
        )""",
    ),
    # distance_feature (reference: DistanceFeatureQueryBuilder): rank by
    # closeness of a numeric field to an origin
    "ft_distance_feature": (
        {"distance_feature": {"field": "n_chars", "origin": 250,
                              "pivot": 50}},
        """
        SELECT doc_id, round(50.0 / (50.0 + abs(n_chars - 250.0)), 4) AS score
        FROM documents WHERE n_chars IS NOT NULL
        """,
    ),
    # constant_score (reference: ConstantScoreQueryBuilder): every doc
    # matching the wrapped filter scores exactly `boost`
    "ft_constant_score": (
        {"constant_score": {"filter": {"match": {"text": "dup"}},
                            "boost": 2.3}},
        "WITH " + O.base_ctes() + """
        SELECT DISTINCT f.doc_id AS doc_id, round(2.3, 4) AS score
        FROM tf f WHERE f.term = 'dup'""",
    ),
    # ids query (reference: IdsQueryBuilder): constant-score doc-id set
    "ft_ids": (
        {"ids": {"values": [3, 7, 11, 400]}},
        """
        SELECT doc_id, round(1.0, 4) AS score FROM documents
        WHERE doc_id IN (3, 7, 11, 400)
        """,
    ),
    # terms lookup (reference: TermsLookup.java): the value set comes
    # from another document's field, fetched once at compile time
    "ft_terms_lookup": (
        {"terms": {"source": {"id": 7, "path": "source"}}},
        """
        SELECT doc_id, round(1.0, 4) AS score FROM documents
        WHERE source = (SELECT source FROM documents WHERE doc_id = 7)
        """,
    ),
}


_MF_QUERIES: dict[str, tuple[dict, str]] = {
    "ft_multi_match_best_fields": (
        {"multi_match": {"query": "src3 hash", "fields": ["text", "source"],
                         "type": "best_fields", "tie_breaker": 0.3}},
        O.multi_match_sql("src3 hash", [("text", "_a"), ("source", "_b")],
                          type_="best_fields", tie=0.3),
    ),
    "ft_multi_match_most_fields": (
        {"multi_match": {"query": "src5 vector", "fields": ["text", "source"],
                         "type": "most_fields"}},
        O.multi_match_sql("src5 vector", [("text", "_a"), ("source", "_b")],
                          type_="most_fields"),
    ),
    # cross_fields: blended-df term-centric scoring (reference:
    # MultiMatchQuery.java cross-fields / BlendedTermQuery); ^2 caret
    # boost on source exercises per-field weights
    "ft_multi_match_cross": (
        {"multi_match": {"query": "src3 hash", "fields": ["text", "source^2"],
                         "type": "cross_fields", "tie_breaker": 0.3}},
        O.cross_fields_sql("src3 hash",
                           [("text", "_a", 1.0), ("source", "_b", 2.0)],
                           tie=0.3),
    ),
    # combined_fields: BM25F single-scorer over merged field statistics
    # (reference: index/query/CombinedFieldsQueryBuilder.java:48)
    "ft_combined_fields": (
        {"combined_fields": {"query": "src5 vector",
                             "fields": ["text", "source^2"]}},
        O.combined_fields_sql("src5 vector",
                              [("text", "_a", 1.0), ("source", "_b", 2.0)]),
    ),
    # dis_max with DIFFERENT subqueries per field (reference:
    # DisMaxQueryBuilder): best clause + tie_breaker * remainder —
    # distinct from multi_match best_fields, which duplicates ONE query
    # across fields
    "ft_dis_max": (
        {"dis_max": {"queries": [{"match": {"text": "hash join"}},
                                 {"match": {"source": "src3"}}],
                     "tie_breaker": 0.4}},
        "WITH " + O.base_ctes_field("_a", "text") + ",\n"
        + O.base_ctes_field("_b", "source") + ",\n"
        + O._match_clause_field("_a", "q0", ["hash", "join"]) + ",\n"
        + O._match_clause_field("_b", "q1", ["src3"]) + """
        SELECT base.doc_id AS doc_id,
               round(greatest(coalesce(q0.raw, 0.0), coalesce(q1.raw, 0.0))
                     + 0.4 * ((coalesce(q0.raw, 0.0) + coalesce(q1.raw, 0.0))
                              - greatest(coalesce(q0.raw, 0.0),
                                         coalesce(q1.raw, 0.0))), 4) AS score
        FROM (SELECT doc_id FROM q0 UNION SELECT doc_id FROM q1) base
        LEFT JOIN q0 ON q0.doc_id = base.doc_id
        LEFT JOIN q1 ON q1.doc_id = base.doc_id""",
    ),
}


def _ft_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-pass rescoring (reference: QueryRescorer.java:58). The
    window is sized to cover EVERY primary match so the oracle is free
    of float-tie top-k boundaries: score = 1.0 * primary BM25 + 2.0 *
    exact-phrase secondary (0 where the phrase is absent)."""
    eng = _engine(spark, sf_dir)
    return _scored(eng.rescore(
        {"match": {"text": "hash join"}},
        {"match_phrase": {"text": "hash join"}},
        k=5000, window_size=5000,
        query_weight=1.0, rescore_query_weight=2.0,
    ))


_FT_PERCOLATE_SQL = (
    "WITH " + O.base_ctes() + """
    SELECT doc_id, 'q_dup' AS query_id
    FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'dup')
    UNION ALL
    SELECT doc_id, 'q_hj_and' FROM (
      SELECT doc_id FROM tf WHERE term IN ('hash', 'join')
      GROUP BY doc_id HAVING count(DISTINCT term) = 2)
    UNION ALL
    SELECT DISTINCT t0.doc_id, 'q_phrase'
    FROM tok t0 JOIN tok t1
      ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
     AND t1.term = 'join'
    WHERE t0.term = 'hash'
    UNION ALL
    SELECT doc_id, 'q_bool' FROM (
      SELECT doc_id FROM tf GROUP BY doc_id
      HAVING max(CASE WHEN term = 'table' THEN 1 ELSE 0 END) = 1
         AND max(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) = 0)"""
)


_FT_RESCORE_SQL = (
    "WITH " + O.base_ctes() + ",\n"
    + O._match_clause_sql("m0", ["hash", "join"]) + ",\n"
    + O._phrase_clause_sql("p0", ["hash", "join"]) + """
    SELECT m0.doc_id AS doc_id,
           round(m0.raw + 2.0 * coalesce(p0.raw, 0.0), 4) AS score
    FROM m0 LEFT JOIN p0 ON p0.doc_id = m0.doc_id"""
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 match over the sf0.001 documents index, with
    the fetch phase joining winners back to their source rows."""
    sf_dir = "/root/testdata/sf0.001"
    eng = _engine(spark, sf_dir)
    hits = eng.search({"match": {"text": "hash join table"}}, k=10)
    return eng.fetch(hits).select(
        "doc_id", "lang", "source", "n_chars", F.round("score", 4).alias("score")
    )


# Driver certification rotation: the driver's correctness gate runs the
# FIRST 50 registered queries (insertion order). r01-r04 together
# certified 168/170 pre-round-5 entries (see git history for the
# earlier _PRIORITY lists); the only two uncertified rows are the r4
# hash-reds ft_flat_object / d_semdedup — value-exact, red only on
# DuckDB HUGEINT sum() -> float64 canonicalization, oracles now
# BIGINT-cast (commit 70d16bf). Round 5 slots: new-in-round-5 entries
# first, then those two re-certifications, then re-certification of
# recently changed rows. Everything past slot 50 stays covered by
# tests/test_oracle_parity.py — the driver gate replicated
# query-for-query at sf0.01.
_PRIORITY_R5 = [
    # --- new in round 5 ---
    "ft_painless_foreach", "r_update_by_query_ctx_op",
    "ft_msearch_template",
    "m_feature_stream",
    "ft_search_template", "p_curation_funnel",
    "ft_count", "ft_mget", "ft_terminate_after", "r_force_merge",
    "d_dedup_clusters",
    "ft_painless_loop",
    "s_hybrid_bm25_knn",
    "ft_phrase_sloppy_repeat",
    "ft_painless_stmt", "r_update_by_query_painless", "ft_highlight",
    "ft_analyze_chain", "r_nested_score",
    "ft_search_pipeline", "ft_derived_fields",
    "r_alias_multi_index", "ft_msearch_union",
    "ft_termvectors", "ft_explain", "r_stream_ingest",
    "ft_suggest_phrase",
    # --- r4 hash-reds, oracle casts fixed ---
    "ft_flat_object", "d_semdedup",
    # --- r4 rows re-certified on round-5 code ---
    "ft_phrase_sloppy",
    "ft_wildcard_leading", "ft_suggest_term", "ft_scroll_union",
    "ft_slice_union", "r_reindex", "r_add_batch",
    "a_moving_avg_hw",
    "a_cardinality_hll", "d_simhash_pairs", "ft_pit_stability",
    "a_percentile_ranks_tdigest", "ft_exists", "a_global_scope",
    "ft_search_as_you_type", "ft_match_only_text", "ft_match_only_phrase",
    "ft_painless_score", "ft_analyze_tokens",
    "ft_suggest_completion",
    "r_update_by_query",
    "r_snapshot_restore",
    "r_range_field_intersects", "r_range_field_within",
    "r_range_field_contains", "r_range_field_term",
    # --- previously rotation-listed r3 heads ---
    "ft_span_multi", "ft_rank_feature", "ft_pinned", "ft_distance_feature",
    "ft_script_sort", "s_ivf_ann", "a_ip_range", "a_variable_width_histogram",
    # --- new in round 3 ---
    "a_geo_distance", "a_geo_bounds_centroid", "a_children", "a_parent",
    "a_star_tree", "a_geotile_grid", "d_embed_dup",
    "t_contamination", "ft_geo_filter", "a_geohash_grid",
    "ft_geo_polygon", "ft_script_score_q",
    "a_extended_stats_bucket", "a_percentiles_bucket",
    "t_repetition", "t_pii_redact", "d_dup_ngrams", "p_domain_mix",
    # --- tests-only operators promoted to oracle rows this round ---
    "a_mad", "a_rare_terms", "a_matrix_stats", "a_moving_fn",
    "a_serial_diff", "a_stats_bucket", "a_bucket_script_selector",
    "ft_dis_max", "ft_constant_score", "ft_ids", "ft_terms_lookup",
    "ft_rescore", "d_line_dedup",
    "a_terms_order", "a_terms_missing", "a_histogram_empty",
    "a_date_histogram_empty", "ft_percolate",
    # --- re-certification of rewritten paths ---
    "s_lsh_ann", "s_lsh_buckets", "s_cosine_topk", "d_ngram_jaccard",
    "d_minhash_lsh",
    # --- re-certification padding (round-2 greens on round-3 code) ---
    "ft_multi_match_cross", "ft_combined_fields", "ft_function_score_gauss",
    "ft_random_score", "ft_script_score", "ft_span_within",
    "ft_span_containing", "ft_intervals_filter", "ft_scripted_sim",
    "d_simhash", "d_exact_dedup",
    "a_nested_agg", "a_reverse_nested", "a_sampler", "a_diversified_sampler",
    "a_auto_date_histogram", "a_percentile_ranks", "a_moving_avg_ewma",
    "a_significant_text", "a_scripted_metric", "a_range_overlap",
    "a_composite_after", "a_date_histogram_pipeline", "a_histogram",
    "a_range_buckets", "a_terms_metrics",
    "m_payload_integrity",
    "r_join_fetch", "r_search_after", "r_collapse", "r_top_hits",
    "t_quality",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (dsl, _sql) in _FT_QUERIES.items():
        all_q[name] = _ft(dsl)
    all_q["ft_term_df"] = _ft_term_df
    all_q["ft_doclen"] = _ft_doclen
    all_q["ft_scripted_sim"] = _ft_scripted_sim
    all_q["s_hybrid_bm25_knn"] = _s_hybrid
    all_q["ft_rescore"] = _ft_rescore
    all_q["ft_percolate"] = _ft_percolate
    all_q["ft_suggest_term"] = _ft_suggest_term
    all_q["r_reindex"] = _r_reindex
    all_q["r_add_batch"] = _r_add_batch
    all_q["ft_pit_stability"] = _ft_pit_stability
    all_q["ft_scroll_union"] = _ft_scroll_union
    all_q["ft_slice_union"] = _ft_slice_union
    for name, (dsl, _sql) in _MF_QUERIES.items():
        all_q[name] = _mf(dsl)
    all_q.update(_R_QUERIES)
    all_q.update(_P_QUERIES)
    all_q.update(_A_QUERIES)
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _PRIORITY_R5:
        out[name] = all_q[name]
    for name, fn in all_q.items():
        if name not in out:
            out[name] = fn
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: sql for name, (_dsl, sql) in _FT_QUERIES.items()}
    out["ft_term_df"] = O.term_df_sql(25)
    out["ft_doclen"] = O.doclen_sql()
    out["ft_scripted_sim"] = _FT_SCRIPTED_SIM_SQL
    out["s_hybrid_bm25_knn"] = _S_HYBRID_SQL
    out["ft_rescore"] = _FT_RESCORE_SQL
    out["ft_percolate"] = _FT_PERCOLATE_SQL
    out["ft_suggest_term"] = _FT_SUGGEST_SQL
    out["r_reindex"] = _R_REINDEX_SQL
    out["r_add_batch"] = O.match_sql("hash join")
    # PIT pins the pre-mutation snapshot -> plain pre-mutation match SQL
    out["ft_pit_stability"] = _FT_PIT_STABILITY_SQL
    # scroll/slice union == the full match set: any dropped, duplicated,
    # or re-scored doc across batches/slices breaks the value hash
    out["ft_scroll_union"] = O.match_sql("hash join")
    out["ft_slice_union"] = O.match_sql("hash join")
    for name, (_dsl, sql) in _MF_QUERIES.items():
        out[name] = sql
    out.update(_R_ORACLES)
    out.update(_P_ORACLES)
    out.update(_A_ORACLES)
    return out
