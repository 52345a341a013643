"""SearchEngine: compiles query ASTs to DataFrame plans over the index.

Query lifecycle (the Spark re-expression of SURVEY.md §3.1):

1. parse DSL -> AST (dsl.py; coordinator-side rewrite = dsl.normalize)
2. term lookup: query terms' global df from the engine's term
   dictionary, the commit's ``termstats`` files read once into the
   driver with pyarrow (the analog of the DFS phase's global stats;
   global IDF matches a 1-shard reference index, SURVEY §1.5)
3. per-segment query phase: the postings scan is filtered to the query
   terms, then ``groupBy("seg").applyInPandas(scorer)`` — each group holds all query-term posting
   blocks of one segment; the scorer decodes, scores BM25 in vectorized
   numpy, and emits only its per-segment top-k (bounded heap analog).
   The postings are flat ``part-*.parquet`` files (no ``seg=``
   directories) of one row group each, so the term filter neither
   prunes a partition nor skips a row group: every posting row is read
   (ROADMAP item 8)
4. coordinator reduce: global ``orderBy(score desc, docId asc).limit(k)``
   — Spark's TakeOrderedAndProject, the TopDocs.merge analog
5. fetch phase: broadcast-join winners back to the corpus row
   (driver-tier hits: read their rows from the corpus parquet files by
   row index in the driver, search/stored.py)

Driver-local tier: a plain top-k search or an msearch batch of programs
whose estimated work (``_driver_work``) is under MAX_DRIVER_WORK skips
steps 3-4 on Spark — the first such request reads the postings files
the engine opened into ONE resident block table over the whole index
(pyarrow, once per engine); every such request then scores it once in
the driver with msearch.score_table (the body of the Spark path's
scorer), drops tombstones and cuts each query at k into an in-memory
DataFrame (``_driver_topk``); segments are a Spark-side partitioning
unit only (see wand.py). A tier request's fetch reads its rows with
pyarrow through a docId map built by one Spark job on the engine's
first tier fetch; the fetched rows, their ``_source`` selection,
highlights and plain doc values are rendered in Arrow and handed to
Spark in one ``createDataFrame`` (``_render``). ``close()`` releases
the table, the map and the engine's persisted frames.

Scoring-context notes:
- match (or/and/msm), match_phrase (exact or sloppy) and bools of those
  run as ONE per-segment program scorer (``_program`` ->
  msearch.make_msearch_scorer -> wand.score_program: block-max pruning,
  one decode, one combine, per-segment top-k; every match when no k is
  given, as for compile()/count()) — no per-clause union, no docId
  shuffle. A scripted or docs-only similarity is a parameter of that
  program (its match clauses' per-term score; phrases stay BM25, and
  MaxScore, whose block bounds are BM25's, is skipped), so those
  queries take the driver tier and msearch batching too; a docs-only
  index's phrases are verified against the source instead
- term-level clauses (term/terms/range/exists/ids) contribute a constant
  ``boost`` score (reference semantics for filter/constant_score contexts;
  the reference's BM25-on-keyword-field scoring for term-in-must is NOT
  reproduced — use filter context, which is also the reference's
  recommended usage)
- any other bool (nested bools, other leaf kinds) combines its clauses
  with one union + one aggregation: each clause emits (docId, score,
  kind, cid); the aggregate enforces must-count / must_not-absence /
  minimum_should_match and sums scores.
"""

from __future__ import annotations

import bisect
import functools
import heapq
import json
import os
import re
import threading
from typing import Dict, Iterable, List, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from opensearch_spark.analysis.analyzer import tokenize
from opensearch_spark.index.build import load_index
from opensearch_spark.index.manifest import (
    IndexPaths, _write_json_atomic, read_manifest, read_table, with_files,
)
from opensearch_spark.search import ast as A, bm25, dsl as dsl_mod, highlight as H, stored

SCORE_SCHEMA = "docId long, score double"


# ---- picklable scorer factories (no Spark objects captured) ----------------

def _similarity_contrib(simfn, dfs: Dict[str, int], avgdl: float, doc_count: int):
    """A scripted similarity (reference: SimilarityService.java:116,
    ScriptedSimilarityProvider) as a program's per-term score: the
    user's vectorized ``simfn(tf, df, dl_q, avgdl, N) -> np.ndarray``
    bound to the index's stats (``dfs``: the query terms' df)."""

    def contrib(t: str, tf: np.ndarray, dl_q: np.ndarray) -> np.ndarray:
        return np.asarray(simfn(tf, dfs[t], dl_q, avgdl, doc_count), dtype=np.float64)

    return contrib


def _span_expr(node) -> tuple:
    """Span AST -> picklable expression tree for the scorer UDF.
    (SpanMulti must be rewritten to SpanOr by the engine first —
    dictionary expansion needs the engine's term dictionary.)"""
    if isinstance(node, A.SpanTerm):
        return ("term", node.value)
    if isinstance(node, A.SpanNear):
        return ("near", [_span_expr(c) for c in node.clauses],
                int(node.slop), bool(node.in_order))
    if isinstance(node, A.SpanOr):
        return ("or", [_span_expr(c) for c in node.clauses])
    if isinstance(node, A.SpanFirst):
        return ("first", _span_expr(node.match), int(node.end))
    if isinstance(node, A.SpanNot):
        return ("not", _span_expr(node.include), _span_expr(node.exclude))
    if isinstance(node, A.SpanWithin):
        return ("within", _span_expr(node.little), _span_expr(node.big))
    if isinstance(node, A.SpanContaining):
        return ("containing", _span_expr(node.big), _span_expr(node.little))
    raise ValueError(f"not a span node: {node!r}")


_BIG_GAPS = 1 << 30


_IVF_OPS = {
    "containing": "containing",
    "contained_by": "within",
    "not_containing": "notcontaining",
    "not_contained_by": "notwithin",
    "not_overlapping": "not",
}


def _interval_expr(rule) -> tuple:
    """Parsed intervals rule -> span expression. max_gaps=-1 (unlimited)
    becomes a huge slop; unordered uses the pairwise-fold minimal-window
    combine (spans.near_unordered). Containment filters wrap the source
    expression (reference: IntervalFilter)."""
    kind = rule[0]
    if kind == "any_of":
        return ("or", [_interval_expr(r) for r in rule[1]])
    if kind not in ("match", "all_of"):
        raise ValueError(kind)
    _k, src, max_gaps, ordered = rule[:4]
    subs = ([("term", t) for t in src] if kind == "match"
            else [_interval_expr(r) for r in src])
    expr = subs[0] if len(subs) == 1 else (
        "near", subs, max_gaps if max_gaps >= 0 else _BIG_GAPS, ordered
    )
    if len(rule) > 4 and rule[4] is not None:
        fk, fr = rule[4]
        # every filter op takes (source, filter)
        expr = (_IVF_OPS[fk], expr, _interval_expr(fr))
    return expr


def _expr_terms(expr) -> List[str]:
    if expr[0] == "term":
        return [expr[1]]
    if expr[0] in ("near", "or"):
        out: List[str] = []
        for s in expr[1]:
            out.extend(_expr_terms(s))
        return out
    if expr[0] == "first":
        return _expr_terms(expr[1])
    if expr[0] in ("not", "within", "containing", "notwithin", "notcontaining"):
        return _expr_terms(expr[1]) + _expr_terms(expr[2])
    raise ValueError(expr)


def _make_span_scorer(expr: tuple, boost: float):
    """Constant-score span/interval matcher over one segment's postings
    (position algebra in spans.py). Matching is exact; scoring is
    filter-like constant boost — documented divergence from Lucene's
    sloppy-freq span scoring."""
    from opensearch_spark.search import spans as S

    terms = _expr_terms(expr)

    binary = {"not": S.not_spans, "within": S.within_spans,
              "containing": S.containing_spans, "notwithin": S.not_within_spans,
              "notcontaining": S.not_containing_spans}

    def eval_expr(e, span_map):
        if e[0] == "term":
            return S.term_spans(span_map, e[1])
        if e[0] == "or":
            return S.or_spans([eval_expr(s, span_map) for s in e[1]])
        if e[0] == "near":
            near = S.near_ordered if e[3] else S.near_unordered
            return near([eval_expr(s, span_map) for s in e[1]], e[2])
        if e[0] == "first":
            return S.first_spans(eval_expr(e[1], span_map), e[2])
        if e[0] not in binary:
            raise ValueError(e)
        return binary[e[0]](eval_expr(e[1], span_map), eval_expr(e[2], span_map))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = bm25.decode_term_group(pdf, want_positions=True)
        uniq, span_map = S.ordinalize(decoded, terms)
        if uniq.size == 0:
            return pd.DataFrame({"docId": [], "score": []})
        hits = S.matching_docs(eval_expr(expr, span_map))
        docs = uniq[hits]
        return pd.DataFrame({
            "docId": docs.astype(np.int64),
            "score": np.full(docs.size, boost, dtype=np.float64),
        })

    return fn


def _make_exists_scorer(boost: float):
    """Constant-score multi-term scorer: docs containing ANY of the group's
    terms (the reference's constant_score rewrite for prefix/wildcard/
    regexp/fuzzy)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = bm25.decode_term_group(pdf)
        if not decoded:
            return pd.DataFrame({"docId": [], "score": []})
        docs = np.unique(np.concatenate([d[0] for d in decoded.values()]))
        return pd.DataFrame(
            {"docId": docs.astype(np.int64), "score": np.full(docs.size, boost)}
        )

    return fn


def _make_phrase_prefix_scorer(fixed: List[str], expansions: List[str],
                               idf_sum: float, avgdl: float, boost: float):
    """Phrase with expansion slot: merge the expansions' postings into one
    pseudo-term posting list (docs sorted, positions merged per doc), then
    run the standard position-chain intersection."""
    exp_set = set(expansions)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = bm25.decode_term_group(pdf, want_positions=True)
        exp_decoded = [v for t, v in decoded.items() if t in exp_set]
        fixed_ok = all(t in decoded for t in fixed)
        if not exp_decoded or not fixed_ok:
            return pd.DataFrame({"docId": [], "score": []})
        # merge expansion postings: (doc, pos) pairs sorted -> pseudo posting
        docs_cat = np.concatenate(
            [np.repeat(d[0], d[1]) for d in exp_decoded]
        )
        pos_cat = np.concatenate([d[3] for d in exp_decoded])
        dl_cat = np.concatenate([np.repeat(d[2], d[1]) for d in exp_decoded])
        order = np.lexsort((pos_cat, docs_cat))
        docs_cat, pos_cat, dl_cat = docs_cat[order], pos_cat[order], dl_cat[order]
        uniq, start = np.unique(docs_cat, return_index=True)
        tfs = np.diff(np.append(start, docs_cat.size))
        dl_u = dl_cat[start]
        decoded["\x00exp"] = (uniq, tfs, dl_u, pos_cat)
        docs, pf, dl_q = bm25.phrase_freq_in_segment(decoded, list(fixed) + ["\x00exp"])
        scores = (
            boost * idf_sum * (bm25.K1 + 1.0)
            * bm25.tf_norm(pf.astype(np.float64), dl_q, avgdl)
        )
        return pd.DataFrame({"docId": docs.astype(np.int64), "score": scores})

    return fn


TERM_SCORE_SCHEMA = "docId long, term string, score double"
TERM_TF_SCHEMA = "docId long, term string, wtf double"


def _term_values(decoded: dict, terms, value, col: str) -> pd.DataFrame:
    """(docId, term, ``col``) rows of ``terms``' decoded postings, the
    value of each from ``value(term, tfs, dl_q)``."""
    got = [(t, decoded[t]) for t in terms if t in decoded]
    return pd.DataFrame({
        "docId": np.concatenate([np.empty(0, np.int64)] + [d[0] for _, d in got]),
        "term": np.concatenate([np.empty(0, object)]
                               + [np.full(d[0].size, t, dtype=object) for t, d in got]),
        col: np.concatenate([np.empty(0, np.float64)] + [value(t, d[1], d[2]) for t, d in got]),
    })


def _make_term_score_scorer(idfs: Dict[str, float], avgdl: float, weight: float):
    """Per-(doc, term) BM25 partials for cross_fields blending (reference:
    Lucene BlendedTermQuery — per-term scores with blended df, combined
    across fields downstream)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _term_values(
            bm25.decode_term_group(pdf), sorted(idfs),
            lambda t, tfs, dl_q: weight * idfs[t] * (bm25.K1 + 1.0)
            * bm25.tf_norm(tfs.astype(np.float64), dl_q, avgdl), "score")

    return fn


def _make_tf_scorer(weight: float):
    """Per-(doc, term) weighted raw term frequencies (combined_fields /
    BM25F numerator input: tf_c = sum_f w_f * tf_f)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = bm25.decode_term_group(pdf)
        return _term_values(decoded, list(decoded),
                            lambda t, tfs, dl_q: weight * tfs.astype(np.float64), "wtf")

    return fn


# ---- fetch phase: the columns a request adds and returns --------------------

HIT_TYPES = {"qid": pa.int32(), "docId": pa.int64(), "score": pa.float64()}


def source_select(src, columns: Sequence[str], keep: Iterable[str]
                  ) -> "List[str] | None":
    """The fetched ``columns`` a request returns under its ``_source``
    (reference: ``FetchSourceContext.fromXContent``): None for the whole
    source (``_source`` absent, true, or an empty list or dict), else
    docId, score, the selected source columns, then the ``keep``
    columns (fields the request computed, which the reference returns
    outside ``_source``), highlights and inner_hits in ``columns``
    order. false selects no source column; a string is one
    include pattern; a list holds include patterns, whose columns come
    in its order, each once; a dict holds ``includes``/``excludes``
    patterns, each a string or a list (no includes = every column)."""
    from fnmatch import fnmatch

    if src is None or src is True or (isinstance(src, (list, tuple, dict)) and not src):
        return None
    keep = {"docId", "score", "inner_hits", *keep,
            *(c for c in columns if c == "highlights" or c.startswith("highlights_"))}
    if isinstance(src, (list, tuple)):
        cols = list(dict.fromkeys(c for p in src for c in columns
                                  if c not in keep and fnmatch(c, p)))
    else:
        inc, exc = ((src.get("includes") or "*", src.get("excludes") or ())
                    if isinstance(src, dict) else (src or (), ()))
        inc, exc = ([p] if isinstance(p, str) else p for p in (inc, exc))
        cols = [c for c in columns if c not in keep and any(fnmatch(c, p) for p in inc)
                and not any(fnmatch(c, p) for p in exc)]
    return ["docId", "score", *cols,
            *(c for c in columns if c in keep and c not in ("docId", "score"))]


def _op_column(kind: str, fld: str | None, arg) -> "F.Column":
    """A fetch op (``SearchEngine._fetch_ops``) as a Spark column."""
    if kind == "derived":
        return F.expr(arg)
    if kind == "highlight":
        return H.fragments(F.col(fld), *arg)
    col = F.col(fld)
    if arg is None:
        return col.cast("string")
    # doc-value formats (reference: DocValueFormat): printf-style or a
    # date pattern
    return F.format_string(arg, col) if "%" in arg else F.date_format(col.cast("timestamp"), arg)


def _arrow_op(table: pa.Table, kind: str, fld: str | None, arg) -> "tuple | None":
    """(values, Spark type) of a fetch op computed in the driver over
    ``table``, with ``_op_column``'s result; None when only Spark
    computes it (derived fields, formatted doc values, doc values of a
    type other than integer and string, a field ``table`` lacks)."""
    if fld not in table.column_names:
        return None
    col = table.column(fld)
    text = pa.types.is_string(col.type) or pa.types.is_large_string(col.type)
    if kind == "dvf" and arg is None and (text or pa.types.is_integer(col.type)):
        return col.cast(pa.string()), StringType()
    if kind == "highlight" and text:
        return (pa.array([H.make_fragments(t or "", *arg) for t in col.to_pylist()],
                         pa.list_(pa.string())), ArrayType(StringType()))
    return None


# ---- driver-local tier: the postings files an engine opened -----------------

class StaleIndexError(RuntimeError):
    """An index file this engine opened was deleted: a later commit
    (``compact_index``, ``upsert_batch``) replaced it and no PIT retains
    it — reopen the engine."""


def _read_index_files(read, files: Sequence[str]) -> list:
    """``read(f)`` of each listed index file; a file that is gone raises
    StaleIndexError."""
    out = []
    for f in files:
        try:
            out.append(read(f))
        except OSError as e:
            raise StaleIndexError(
                f"index changed since open: {f} is gone; "
                "open a new SearchEngine") from e
    return out


# the termstats columns the term dictionary reads
_TERMSTATS = pa.schema([("term", pa.string()), ("df", pa.int64()), ("ttf", pa.int64())])


def _levenshtein(word: str, terms: Sequence[str]) -> np.ndarray:
    """Edit distance from ``word`` to each of ``terms``: inserts,
    deletes and substitutions of one code point, as Spark's
    ``levenshtein`` (DuckDB's counts UTF-8 bytes: the two agree on
    ASCII terms). Wagner-Fischer, one row per character of
    ``word``, each row computed for every term and column at once: the
    insertion chain ``row[j] = min(row[j], row[j-1] + 1)`` is a running
    minimum of ``row[j] - j``."""
    width = max(map(len, terms), default=0)
    chars = np.frombuffer("".join(t.ljust(width, "\0") for t in terms)
                          .encode("utf-32-le"), np.uint32).reshape(len(terms), width)
    col = np.arange(width + 1)
    row = np.broadcast_to(col, (len(terms), width + 1))
    for i, c in enumerate(word, 1):
        step = np.empty_like(row)
        step[:, 0] = i
        np.minimum(row[:, 1:] + 1, row[:, :-1] + (chars != ord(c)), out=step[:, 1:])
        row = np.minimum.accumulate(step - col, axis=1) + col
    return row[np.arange(len(terms)), np.fromiter(map(len, terms), np.int64, len(terms))]


class _PinnedPostings:
    """The postings files an engine opened (or a PIT token's): footers
    read on first tier use for each file's (size, mtime) identity and
    the compressed bytes (``nbytes``); ``load`` reads the columns a
    ``wand.BlockTable`` uses from every file once into one resident
    table over all segments (``table``), kept until the engine closes
    like a segment reader until refresh; ``check`` refuses files changed
    since they were pinned. ``docstats``: the commit's docstats files,
    whose docIds ``load`` checks are unique."""

    def __init__(self, files: Sequence[str], docstats: Sequence[str]):
        self.files = list(files)
        self.docstats = list(docstats)
        self.ident, self.nbytes = [], 0
        for st, md in _read_index_files(
                lambda f: (os.stat(f), pq.read_metadata(f)), self.files):
            self.ident.append((st.st_size, st.st_mtime_ns))
            self.nbytes += sum(md.row_group(r).column(c).total_compressed_size
                               for r in range(md.num_row_groups)
                               for c in range(md.num_columns))
        self.table = None

    def check(self) -> None:
        for f, ident in zip(self.files, self.ident):
            try:
                st = os.stat(f)
                if (st.st_size, st.st_mtime_ns) != ident:
                    raise FileNotFoundError(f)
            except OSError as e:
                raise StaleIndexError(
                    f"index changed since open: {f} is gone or rewritten; "
                    "open a new SearchEngine") from e

    def load(self) -> None:
        from opensearch_spark.search import wand

        # one table scores each docId once: an index that holds a docId
        # twice (written before add_batch refused indexed docIds) would
        # have its copies' scores summed or repeated
        ids = np.sort(np.concatenate([np.empty(0, np.int64)] + [
            pq.read_table(f, columns=["docId"]).column(0).to_numpy()
            for f in self.docstats]))
        rep = ids[1:][ids[1:] == ids[:-1]]
        if rep.size:
            raise ValueError(
                f"the index holds docId {rep[0]} more than once; replace "
                "that document with upsert_batch (or rebuild the index)")
        self.table = wand.BlockTable(pa.concat_tables(
            [pq.read_table(f, columns=list(wand._COLS)) for f in self.files]))


class SearchEngine:
    # tombstone tables above this stay out of broadcast joins; pruned
    # top-k over-fetch is abandoned (exhaustive scoring) above it too,
    # since over-fetching by millions defeats the pruning
    MAX_PRUNE_DELETES = 100_000
    # A top-k search or msearch batch whose estimated work (_driver_work,
    # in bytes) is below this is answered in the driver process, without
    # a Spark job; the crossover curve that sets it is in BASELINE.md.
    MAX_DRIVER_WORK = 15_000_000
    # compiled plans kept per cache (search and msearch; serving regime:
    # the same request or batch arrives continuously)
    PLAN_CACHE_SIZE = 32

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        corpus: DataFrame | None = None,
        text_field: str = "content",
        id_cols: Sequence[str] = ("repo", "path", "commit"),
        doc_id_col: str | None = None,
        cache: bool = False,
        similarity=None,
        pit: dict | None = None,
    ):
        self.spark = spark
        # point-in-time (reference: CreatePitController.java:52): a PIT
        # reader opens the commit its token retains instead of the
        # latest — later generations/tombstones are invisible, deletes
        # through a PIT are rejected
        self._pit = pit
        ix = load_index(spark, index_dir, None if pit is None else read_manifest(
            index_dir, IndexPaths(index_dir).pit(pit["pit_id"])))
        self.paths: IndexPaths = ix["paths"]
        self.postings: DataFrame = ix["postings"]
        self.docstats: DataFrame = ix["docstats"]
        # the manifest of the commit this engine serves: globals + files
        self.globals = ix["globals"]
        # scripted similarity hook (reference: SimilarityService.java:116
        # pluggable per-field similarity): fn(tf, df, dl_q, avgdl, N) ->
        # per-posting scores (vectorized numpy). When set, match clauses
        # score with it instead of BM25 (``_programs``; phrases stay BM25).
        self.similarity = similarity
        self.avgdl = float(self.globals["avgdl"])
        self.doc_count = int(self.globals["field_doc_count"])
        # the driver-local tier's view of the postings files, pinned on
        # first use: None = not yet; False = not local files, or closed
        self._pinned: "_PinnedPostings | None | bool" = None
        # the driver fetch's reader of the corpus files (search/stored.py),
        # opened on the first tier fetch: None = not yet; False = the
        # corpus is not a bare scan of local parquet files, or closed
        self._corpus_scan = corpus
        self._stored: "stored.StoredFields | None | bool" = None
        self._closed = False
        # match_only_text analog (reference:
        # MatchOnlyTextFieldMapper.java:46): a docs-only index stores
        # no freqs/positions and ignores norms, so term scoring
        # degenerates to the idf alone (BM25 with tf==1 and norms off:
        # idf * (k1+1)*1/(1+k1) == idf). Routed through the scripted-
        # similarity hook; phrase queries re-verify against the source
        # (_phrase_via_source), as the index holds no positions.
        self._index_options = str(self.globals.get("index_options",
                                                   "positions"))
        if self._index_options == "docs" and self.similarity is None:
            import numpy as _np

            def match_only_idf(tf, df, dl_q, avgdl, N):
                idf = float(_np.log(1.0 + (N - df + 0.5) / (df + 0.5)))
                return _np.full(_np.asarray(tf).shape, idf,
                                dtype=_np.float64)

            self.similarity = match_only_idf
        self.text_field = text_field
        self.id_cols = tuple(id_cols)
        self.doc_id_col = doc_id_col
        self.corpus: DataFrame | None = None
        if corpus is not None:
            if doc_id_col is None:
                self.corpus = corpus.withColumn(
                    "docId", F.xxhash64(*[F.col(c) for c in id_cols])
                )
            else:
                self.corpus = corpus.withColumn("docId", F.col(doc_id_col).cast("long"))
        if cache:
            # Persist the postings PRE-PARTITIONED on the serving
            # grouping key: every scoring path is
            # filter(term) -> groupBy("seg").applyInPandas(...), so a
            # seg-hash-partitioned cache satisfies the group-by's
            # ClusteredDistribution and each query job runs as ONE
            # shuffle-free stage (InMemoryTableScan -> Filter -> Sort ->
            # FlatMapGroupsInPandas -> TakeOrderedAndProject). The single
            # repartition happens once at cache materialization — the
            # serving-node analog of storing shards segment-aligned; a
            # real cluster gets the same effect by bucketing the postings
            # table by seg at write time.
            self.postings = self.postings.repartition("seg").persist()
            self.docstats = self.docstats.persist()
        # the term dictionary (_load_term_df_map), read on first use:
        # term -> df and term -> ttf summed over generations, their
        # totals and the sorted terms (a list and an Arrow array).
        # None = not loaded yet.
        self._term_df_map: Dict[str, int] | None = None
        self._term_ttf: Dict[str, int] = {}
        self._terms: List[str] = []
        self._term_arr = pa.array([], pa.string())
        self._n_postings = 0  # sum of df: the index's postings
        self._sum_ttf = 0
        self._msearch_plans: Dict[tuple, DataFrame] = {}
        self._search_plans: Dict[tuple, DataFrame] = {}
        # msearch_many drives msearch/search from a thread pool: cache
        # get/evict/put must be atomic or two threads evicting the same
        # head key race into KeyError; the term dictionary and the
        # pinned postings load once under it too
        self._plan_cache_lock = threading.Lock()
        # the driver tier scores its resident table one request at a
        # time: its decode cache mutates
        self._tier_lock = threading.Lock()
        from opensearch_spark.search.templates import TemplateRegistry

        self.templates = TemplateRegistry()
        # analyzer parity: the query side must analyze with the SAME
        # analyzer the index was built with (reference: search_analyzer
        # defaults to the index analyzer). Legacy manifests carry the
        # standard-analyzer descriptor string.
        name = str(self.globals.get("analyzer", "standard"))
        self.analyzer = name if name in ("standard", "whitespace", "keyword") else "standard"

        def _tok(text: str) -> List[str]:
            return tokenize(text, self.analyzer)

        self._tok = _tok
        # soft deletes (Lucene liveDocs analog): the commit's tombstone
        # files of docIds under <index>/deletes; hits are anti-joined
        # against them
        self._load_deletes()

    def _load_deletes(self, published: dict | None = None) -> None:
        """Tombstones of the served commit: ``self.deletes`` (distinct
        docIds, for the Spark plans), ``_n_deletes``, and up to
        MAX_PRUNE_DELETES of them as ``_deleted_ids`` for the
        driver-local tier (None past that, which keeps the tier off).
        When the files' footers hold at most MAX_PRUNE_DELETES rows they
        are read in the driver with pyarrow; past that a Spark query
        collects them. A listed file that is gone raises
        StaleIndexError. ``published``: a commit this engine just
        published tombstones in, whose tombstones it then serves over
        its own postings."""
        if published is not None:
            self.globals = {**with_files(self.globals, deletes=published["files"]["deletes"]),
                            "commit": published["commit"]}
        src = self.globals["files"]["deletes"]
        files = [self.paths.table("deletes", f) for f in src]
        n_rows = sum(md.num_rows for md in _read_index_files(pq.read_metadata, files))
        self.deletes: DataFrame | None = (
            read_table(self.spark, self.paths, "deletes", src).distinct()
            if src else None)
        if n_rows <= self.MAX_PRUNE_DELETES:
            self._deleted_ids = np.unique(np.concatenate(
                [np.empty(0, np.int64)] + _read_index_files(
                    lambda f: pq.read_table(f, columns=["docId"]).column(0).to_numpy(),
                    files)))
            self._n_deletes = int(self._deleted_ids.size)
            return
        rows = self.deletes.limit(self.MAX_PRUNE_DELETES + 1).collect()
        if len(rows) <= self.MAX_PRUNE_DELETES:
            self._deleted_ids = np.sort(np.array([r[0] for r in rows], dtype=np.int64))
            self._n_deletes = len(rows)
        else:
            self._deleted_ids = None
            self._n_deletes = self.deletes.count()

    def _pin_postings(self) -> "_PinnedPostings | bool":
        """The served commit's postings files with their footers, loaded
        once; False when there are none."""
        with self._plan_cache_lock:
            if self._pinned is None:
                files = self.globals["files"]
                self._pinned = _PinnedPostings(
                    [self.paths.table("postings", f) for f in files["postings"]],
                    [self.paths.table("docstats", f) for f in files["docstats"]],
                ) if files["postings"] else False
            return self._pinned

    def close(self) -> None:
        """Release the ``cache=True`` postings/docstats persists, the
        resident table, the driver fetch's docId map and the plan
        caches; searching afterwards raises."""
        with self._tier_lock:
            self._closed = True
            self._pinned = False
            self._stored = False
        with self._plan_cache_lock:
            self._search_plans.clear()
            self._msearch_plans.clear()
        self.postings.unpersist()
        self.docstats.unpersist()

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("SearchEngine is closed; open a new one")

    def open_pit(self) -> dict:
        """Open a point-in-time token (reference: create PIT API,
        ``CreatePitController.java:52`` — a PIT holds segment references
        that block deletion until closed). The commit this engine serves
        is retained as ``<index>/pits/<pit_id>/manifest.json``: writers
        delete no file such a record lists, so PIT readers survive
        ``compact_index``/``upsert_batch`` exactly like Lucene readers
        holding merged-away segments. ``close_pit`` releases it. Pass to
        ``SearchEngine(..., pit=token)`` for a pinned read-only
        reader."""
        import uuid as _uuid

        pit_id = _uuid.uuid4().hex
        rec = self.paths.pit(pit_id)
        os.makedirs(os.path.dirname(rec))
        _write_json_atomic(rec, self.globals)
        return {"pit_id": pit_id}

    def close_pit(self, token: dict) -> None:
        """Release a PIT's retention record (reference: delete PIT API):
        the next write deletes the files only it kept. Engines opened
        on the token keep serving until then."""
        import shutil as _sh

        _sh.rmtree(os.path.dirname(self.paths.pit(token["pit_id"])),
                   ignore_errors=True)

    def delete(self, doc_ids: Sequence[int]) -> int:
        """Soft-delete documents by id (reference: Lucene soft deletes /
        liveDocs — docs stay in segments, queries skip them; space is
        reclaimed by the next compaction). Writes one tombstone parquet
        file and publishes it on the latest commit; visible to THIS
        engine immediately and to new engines on open."""
        import uuid

        from opensearch_spark.index.incremental import add_tombstones

        if self._pit is not None:
            raise ValueError("PIT reader is a read-only snapshot")
        if not doc_ids:
            return 0
        name = f"del-{uuid.uuid4().hex}.parquet"
        os.makedirs(self.paths.table("deletes"), exist_ok=True)
        pq.write_table(pa.table({"docId": pa.array([int(d) for d in doc_ids], pa.int64())}),
                       self.paths.table("deletes", name))
        self._load_deletes(add_tombstones(self.paths, [name]))
        return len(doc_ids)

    def delete_by_query(self, query: dict | A.AnyNode) -> int:
        """_delete_by_query: soft-delete every doc matching the query.
        The matched-id frame is written STRAIGHT to the tombstone parquet
        dir as a distributed Spark write — no driver collect, so a
        query matching 10^8 docs costs executor memory only (reference:
        TransportDeleteByQueryAction streams scroll batches the same
        way)."""
        from opensearch_spark.index.incremental import add_tombstones
        from opensearch_spark.index.manifest import append

        if self._pit is not None:
            raise ValueError("PIT reader is a read-only snapshot")
        node = dsl_mod.parse(query) if isinstance(query, dict) else dsl_mod.normalize(query)
        ids = self.compile(node).select("docId").persist()
        try:
            n = ids.count()
            if n:
                self._load_deletes(add_tombstones(
                    self.paths, append(ids, self.paths, "deletes")))
        finally:
            ids.unpersist()
        return n

    def _live(self, df: DataFrame) -> DataFrame:
        if self.deletes is None:
            return df
        d = self.deletes
        if self._n_deletes <= self.MAX_PRUNE_DELETES:
            d = F.broadcast(d)
        return df.join(d, "docId", "left_anti")

    # ---- driver-local tier --------------------------------------------

    def _driver_work(self, programs: Sequence) -> float:
        """Bytes a driver-local answer handles, known before scoring: the
        pinned postings' compressed bytes (what stays resident) plus the
        postings the programs score (term-map df, summed over programs)
        at the index's compressed bytes per posting."""
        m = self._term_df_map
        postings = sum(m.get(t, 0) for p in programs for c in p.clauses
                       for t in set(c.terms))
        per_posting = self._pinned.nbytes / max(self._n_postings, 1)
        return self._pinned.nbytes + postings * per_posting

    def _driver_topk(self, nodes: Sequence[A.AnyNode], k: int
                     ) -> "pd.DataFrame | None":
        """Per-qid top-k (qid, docId, score) of ``nodes``, in final order,
        computed in the driver: one ``msearch.score_table`` over the
        resident table (loaded by the first such request; one lock, as
        its decode cache mutates) with ``k`` + the tombstone count, which
        yields each qid's rows by (score desc, docId asc); tombstones are
        dropped and each qid cut at ``k``. ``attrs["tier"]`` holds the
        block counters and whether this request loaded the table. A
        changed pinned file raises StaleIndexError. None when the Spark
        plan must run: ``k`` < 1, too many tombstones, non-local
        postings, a node without a program, or work over
        MAX_DRIVER_WORK."""
        from opensearch_spark.search import msearch as M

        if k < 1 or self._deleted_ids is None or self._pin_postings() is False:
            return None
        progs, idfs = self._programs(nodes)
        if any(p is None for p in progs):
            return None
        programs = [p for p in progs if p.clauses and not p.match_none]
        if self._driver_work(programs) >= self.MAX_DRIVER_WORK:
            return None
        pinned = self._pinned
        with self._tier_lock:
            pinned.check()
            loaded = pinned.table is None
            if loaded:
                pinned.load()
            out, stats = M.score_table(pinned.table, programs, idfs, self.avgdl,
                                       k + self._n_deletes)
        if self._deleted_ids.size:
            out = out[~np.isin(out["docId"].to_numpy(), self._deleted_ids)]
            qid = out["qid"].to_numpy()  # programs, so rows, in qid order
            out = out[np.arange(qid.size) - np.searchsorted(qid, qid) < k]
        out = out.reset_index(drop=True)
        out.attrs["tier"] = {"blocks_decoded": stats["decoded"],
                             "blocks_total": stats["total"], "pinned": loaded}
        return out

    def _render(self, local: pd.DataFrame, cols: Sequence[str] = ("docId", "score"),
                body: dict | None = None) -> DataFrame:
        """Driver-tier rows (``_driver_topk``'s, in final order) as ONE
        Arrow-built LocalRelation: the tier's one JVM hand-off, whose
        collect runs no Spark job. Without a request ``body`` the
        frame holds the hit columns ``cols``.

        With a ``body`` that fetches, it holds the response: the hits'
        corpus rows, read in the driver (stored.StoredFields: the first
        such fetch of an engine builds the docId map with one Spark
        job, later ones run none) when the corpus is a bare scan of
        local parquet files and the resident postings plus the map fit
        MAX_DRIVER_WORK; cut at ``size``; with the ``_source``
        selection, unformatted integer/string docvalue_fields and
        highlights rendered in Arrow, in the columns, types and order
        the Spark fetch returns. A request with a fetch op only Spark
        computes (``_arrow_op``) renders those ops, and the
        ``_source`` selection, as DataFrame post-processing over the
        fetched rows (``_finish``); a changed corpus file, or any other
        corpus, runs ``fetch``. ``local.attrs["tier"]`` records which
        fetch and which renderer ran and the corpus rows read (None
        when unknown)."""
        tier = local.attrs["tier"]
        tier["render"] = "driver"
        if body is None:
            return self.spark.createDataFrame(pa.table(
                {c: pa.array(local[c].to_numpy(), HIT_TYPES[c]) for c in cols}))
        if self.corpus is None:
            raise ValueError("no corpus attached")
        size, src, ops = int(body.get("size", 10)), body.get("_source"), self._fetch_ops(body)
        schema = self.corpus.schema  # read once per corpus frame (a cached property)
        names = [c for c in schema.names if c != "docId"]
        outs = [out for out, *_ in ops]
        sel = source_select(src, ["docId", *names, "score", *outs], outs)
        if sel is not None and all(kind != "derived" for _, kind, *_ in ops):
            # derived expressions may read any column
            names = [c for c in names if c in sel or any(c == op[2] for op in ops)]
        with self._tier_lock:
            if self._stored is None:
                self._stored = (self._corpus_scan is not None
                                and stored.open_stored(self._corpus_scan)) or False
            sf = self._stored
            fits = (sf is not False and not sf.changed()
                    and self._pinned.nbytes + sf.nbytes < self.MAX_DRIVER_WORK)
            if fits and sf.ids is None and not sf.build(self.corpus):
                self._stored = sf = fits = False
        if not fits:
            hits = self._render(local)
            tier.update(fetch="spark", fetch_rows_read=sf.n_rows if sf else None,
                        render="spark")
            return self._finish(self.fetch(hits).limit(size), ops, src)
        rows, hit, n_read = sf.read(local["docId"].to_numpy(), names)
        tier.update(fetch="driver", fetch_rows_read=n_read)
        table = pa.table(
            [pa.array(local["docId"].to_numpy()[hit], pa.int64()), *rows.columns,
             pa.array(local["score"].to_numpy()[hit], pa.float64())],
            names=["docId", *names, "score"]).slice(0, size)
        fields = {f.name: f for f in (schema["docId"], *(schema[c] for c in names),
                                      StructField("score", DoubleType()))}
        out_table, out_fields = table, dict(fields)
        for out, kind, fld, arg in ops:
            done = _arrow_op(out_table, kind, fld, arg)
            if done is None:
                tier["render"] = "spark"
                return self._finish(self.spark.createDataFrame(
                    table, StructType(list(fields.values()))), ops, src)
            i = out_table.schema.get_field_index(out)
            out_table = (out_table.append_column(out, done[0]) if i < 0
                         else out_table.set_column(i, out, done[0]))
            out_fields[out] = StructField(out, done[1])
        keep = source_select(src, out_table.column_names, outs) or out_table.column_names
        return self.spark.createDataFrame(out_table.select(keep),
                                          StructType([out_fields[c] for c in keep]))

    def _fetch_ops(self, body: dict) -> list:
        """The columns a request's fetch computes, in the order they are
        added (a name already fetched is replaced in place): (name, kind,
        input column, arg) for each docvalue field (doc-value fields,
        reference DocValueFieldsContext: "dvf", its format or None),
        derived field (reference DerivedFieldMapper, computed at query
        time: "derived", no input, a Spark SQL expression) and
        highlighted field ("highlight", (query spec, fragment size,
        number of fragments))."""
        ops = []
        for spec in body.get("docvalue_fields") or []:
            fld, fmt = (spec, None) if isinstance(spec, str) else (spec["field"], spec.get("format"))
            ops.append((f"{fld}_value", "dvf", fld, fmt))
        for name, spec in (body.get("derived") or body.get("derived_fields") or {}).items():
            ops.append((name, "derived", None, str(spec["script"] if isinstance(spec, dict) else spec)))
        if "highlight" in body:
            hl = body["highlight"]
            fields = list(hl["fields"].items())
            # pass the parsed AST: phrase queries highlight only
            # positions participating in a match (H.query_spec)
            q = body.get("query", {"match_all": {}})
            q_ast = dsl_mod.parse(q) if isinstance(q, dict) else q
            for fld, spec in fields:
                # highlight_query overrides the search query for this
                # field; matched_fields widens which query clauses may
                # mark this field's text; the reference-default
                # require_field_match=true is switchable off per request
                # or per field (reference: AbstractHighlighterBuilder
                # highlightQuery / requireFieldMatch, HighlightBuilder
                # matchedFields)
                node = (dsl_mod.parse(spec["highlight_query"])
                        if spec.get("highlight_query") else q_ast)
                rfm = bool(spec.get("require_field_match", hl.get("require_field_match", True)))
                mf = set(spec.get("matched_fields") or []) | {fld} if rfm else None
                ops.append(("highlights" if len(fields) == 1 else f"highlights_{fld}",
                            "highlight", fld,
                            (H.query_spec(node, fields=mf, default_field=self.text_field),
                             int(spec.get("fragment_size", 100)),
                             int(spec.get("number_of_fragments", 2)))))
        return ops

    def _finish(self, fetched: DataFrame, ops: list, src) -> DataFrame:
        """A fetch's ``ops`` and ``_source`` selection as DataFrame
        post-processing over its ``fetched`` rows."""
        for out, kind, fld, arg in ops:
            fetched = fetched.withColumn(out, _op_column(kind, fld, arg))
        keep = source_select(src, fetched.columns, [out for out, *_ in ops])
        return fetched if keep is None else fetched.select(*keep)

    # ---- public API ---------------------------------------------------

    MAX_RESULT_WINDOW = 10000  # reference: index.max_result_window

    def search(
        self,
        query: dict | A.AnyNode,
        k: int = 10,
        from_: int = 0,
        sort: list | None = None,
        search_after: tuple | list | None = None,
        collapse: str | None = None,
        terminate_after: int | None = None,
        slice_: dict | None = None,
    ) -> DataFrame:
        """Top-k hits.

        Default order is (score desc, docId asc). ``sort`` is a list of
        (corpus_column, "asc"|"desc") field sorts (docId appended as the
        tiebreaker); ``search_after`` is keyset pagination over the active
        sort keys; ``from_``+``k`` is capped at max_result_window
        (reference: from+size window, SURVEY §2.7). ``collapse`` keeps
        the best hit per value of a corpus column (reference:
        CollapseBuilder.java:64 = top-1-per-group). ``terminate_after``
        caps the number of docs considered (reference:
        EarlyTerminatingCollector — approximate counts, bounded work).

        A plain top-k (no from_, sort, search_after, collapse,
        terminate_after or slice_) small enough for the driver-local tier
        comes back as an in-memory frame (``_driver_topk``)."""
        df, local = self._search(query, k, from_, sort, search_after,
                                 collapse, terminate_after, slice_)
        return df if local is None else self._render(local)

    def _search(self, query, k, from_=0, sort=None, search_after=None,
                collapse=None, terminate_after=None, slice_=None) -> tuple:
        """(``search``'s frame, None), or (None, the driver-local tier's
        rows as pandas in final order) when that tier answered."""
        self._check_open()
        if from_ + k > self.MAX_RESULT_WINDOW:
            raise ValueError(
                f"from+size {from_ + k} exceeds max_result_window {self.MAX_RESULT_WINDOW}"
            )
        # terminate_after selects per-segment docId-order heads from the
        # FULL matched set; the pruned top-k program over-fetches only
        # score-ordered heads, so it must not feed it
        prune = (sort is None and search_after is None and from_ == 0
                 and collapse is None and slice_ is None
                 and terminate_after is None)
        node = dsl_mod.parse(query) if isinstance(query, dict) else dsl_mod.normalize(query)
        if prune:
            local = self._driver_topk([node], k)
            if local is not None:
                return None, local
        # hot-query plan cache (the request-cache analog,
        # indices/IndicesRequestCache.java — keyed on the whole request):
        # a repeated identical search returns the SAME compiled
        # DataFrame, skipping Catalyst analysis and reusing finished
        # shuffle stages on re-collect.
        sig = (self._plan_sig([query, sort, search_after, collapse, slice_],
                              int(k), int(from_), terminate_after)
               if isinstance(query, dict) else None)
        cached = self._cached_plan(self._search_plans, sig)
        if cached is not None:
            return cached, None
        df = self.compile(node, topk=k if prune else None)
        if slice_ is not None:
            # sliced scroll (reference: search/slice/SliceBuilder.java:82)
            # — deterministic hash partition of the matching docs so N
            # workers can scroll disjoint slices in parallel; the union
            # of all slices is exactly the unsliced result
            sid, smax = int(slice_["id"]), int(slice_["max"])
            if not (0 <= sid < smax):
                raise ValueError(f"slice id {sid} not in [0, {smax})")
            df = df.where(
                F.pmod(F.xxhash64(F.col("docId")), F.lit(smax)) == F.lit(sid)
            )
        if terminate_after is not None:
            # Deterministic early termination (reference:
            # EarlyTerminatingCollector, wired through terminate_after
            # in SearchSourceBuilder): each SEGMENT collects its
            # matching docs in docId order and stops after N — exactly
            # Lucene's per-leaf collection order, so the result is
            # reproducible (and SQL-expressible) instead of an
            # arbitrary LIMIT sample. Total hits can reach
            # N * n_segments, matching the reference's per-shard cap.
            from pyspark.sql import Window

            w_ta = Window.partitionBy("seg").orderBy(F.asc("docId"))
            df = (
                df.join(self.docstats.select("docId", "seg"), "docId")
                .withColumn("_ta", F.row_number().over(w_ta))
                .where(F.col("_ta") <= int(terminate_after))
                .drop("_ta", "seg")
            )
        if collapse is not None:
            from pyspark.sql import Window

            if self.corpus is None:
                raise ValueError("collapse needs an attached corpus")
            df = df.join(self.corpus.select("docId", collapse), "docId")
            w = (
                Window.partitionBy(collapse)
                .orderBy(F.desc("score"), F.asc("docId"))
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )

        if sort:
            if self.corpus is None:
                raise ValueError("field sort needs an attached corpus")
            plain = [c for c, _ in sort if c in self.corpus.columns]
            exprs = [(i, c) for i, (c, _) in enumerate(sort)
                     if c not in self.corpus.columns]
            if exprs:
                # script sort (reference: ScriptSortBuilder / Painless
                # sort scripts): any SQL expression over corpus columns.
                # The full corpus row is joined; Catalyst column-prunes
                # the scan down to the referenced columns.
                df = df.join(self.corpus, "docId")
                keys = []
                for i, (c, d) in enumerate(sort):
                    if c in self.corpus.columns:
                        keys.append((c, d.lower()))
                    else:
                        df = df.withColumn(f"_sk{i}", F.expr(c))
                        keys.append((f"_sk{i}", d.lower()))
                keys.append(("docId", "asc"))
            else:
                df = df.join(self.corpus.select("docId", *plain), "docId")
                keys = [(c, d.lower()) for c, d in sort] + [("docId", "asc")]
        else:
            keys = [("score", "desc"), ("docId", "asc")]

        order = [
            F.desc(c) if d == "desc" else F.asc(c) for c, d in keys
        ]
        if search_after is not None:
            if len(search_after) != len(keys):
                raise ValueError(f"search_after needs {len(keys)} values ({keys})")
            # lexicographic strictly-after predicate over the sort keys
            pred = None
            for i in range(len(keys)):
                eqs = [F.col(keys[j][0]) == F.lit(search_after[j]) for j in range(i)]
                c, d = keys[i]
                cmp = (
                    F.col(c) < F.lit(search_after[i])
                    if d == "desc"
                    else F.col(c) > F.lit(search_after[i])
                )
                clause = cmp
                for e in eqs:
                    clause = e & clause
                pred = clause if pred is None else (pred | clause)
            df = df.where(pred)
        out = df.orderBy(*order)
        if from_ > 0:
            # deep pagination stays bounded: orderBy + offset + limit
            # compiles to TakeOrderedAndProject(limit=from_+k, offset=
            # from_) — each task keeps a from_+k heap and the driver
            # merges, instead of shuffling the whole matched set into
            # one task for a global row_number window (reference bounds
            # the same way via from+size <= max_result_window).
            out = out.offset(from_).limit(k)
        else:
            out = out.limit(k)
        return self._cached_plan(self._search_plans, sig, out), None

    def _plan_sig(self, request, *key) -> tuple | None:
        """A plan cache key: ``request`` as canonical JSON, ``key`` and
        the served commit; None when ``request`` is not JSON."""
        try:
            return (json.dumps(request, sort_keys=True), *key, self.globals["commit"])
        except TypeError:
            return None

    def _cached_plan(self, cache: dict, sig, plan: DataFrame | None = None
                     ) -> DataFrame | None:
        """The plan ``cache`` holds under ``sig`` (None when ``sig`` is);
        given a ``plan``, stores it first, evicting the oldest entry past
        PLAN_CACHE_SIZE."""
        if sig is None:
            return plan
        with self._plan_cache_lock:
            if plan is not None:
                if len(cache) >= self.PLAN_CACHE_SIZE:
                    cache.pop(next(iter(cache), None), None)
                cache[sig] = plan
            return cache.get(sig)

    def request(self, body: dict) -> dict:
        """Full `_search` request body — the reference's REST surface
        (``rest/action/search/RestSearchAction.java:135`` parses the
        same keys into SearchSourceBuilder). Supported keys: query,
        from, size, sort, search_after, collapse, rescore, aggs/
        aggregations, highlight, _source.

        Returns {"hits": DataFrame, "aggregations": DataFrame | None}.
        ``hits`` carries (docId, score [, sort/collapse columns]); with
        ``_source``, highlight, docvalue_fields or derived fields the
        corpus columns are joined in (the fetch phase). ``_source``
        follows the reference's FetchSourceContext (``source_select``):
        absent or true returns the whole row, false none of it, a
        string is one include pattern, a list names columns, a dict
        holds includes/excludes patterns (a string or a list each).
        Driver-tier hits build the whole response table in the driver
        and hand it to Spark once (``_render``)."""
        q = body.get("query", {"match_all": {}})
        size = int(body.get("size", 10))
        from_ = int(body.get("from", 0))
        sort = None
        if "sort" in body:
            sort = []
            for s in body["sort"]:
                if isinstance(s, str):
                    sort.append((s, "asc"))
                else:
                    ((f, spec),) = s.items()
                    d = spec.get("order", "asc") if isinstance(spec, dict) else spec
                    if f == "_script":
                        # reference: ScriptSortBuilder — sort by script
                        f = dsl_mod.script_source(spec["script"])
                    sort.append((f, d))
        collapse_body = body.get("collapse") or {}
        collapse = collapse_body.get("field")

        if "rescore" in body:
            r = body["rescore"]
            rq = r["query"]
            hits = self.rescore(
                q, rq["rescore_query"], k=size,
                window_size=int(r.get("window_size", 50)),
                query_weight=float(rq.get("query_weight", 1.0)),
                rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)),
            )
            local = None
        else:
            hits, local = self._search(
                q, size, from_=from_, sort=sort,
                search_after=body.get("search_after"), collapse=collapse,
                terminate_after=body.get("terminate_after"),
            )

        ih = collapse_body.get("inner_hits")
        if collapse and ih:
            # collapse inner_hits (reference: CollapseBuilder.java
            # inner_hits — per collapsed group, the top-N group members
            # as a nested array). One window + one collect per group;
            # the array is sorted by rank so collect_list's
            # nondeterministic order can't leak through.
            from pyspark.sql import Window

            n_ih = int(ih.get("size", 3))
            node = dsl_mod.parse(q) if isinstance(q, dict) else q
            matched = self.compile(node).join(
                self.corpus.select("docId", collapse), "docId"
            )
            w = (
                Window.partitionBy(collapse)
                .orderBy(F.desc("score"), F.asc("docId"))
            )
            top = (
                matched.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= n_ih)
            )
            inner = (
                top.groupBy(collapse)
                .agg(F.sort_array(F.collect_list(
                    F.struct("_rn", "docId", "score"))).alias("_ih"))
                .select(
                    collapse,
                    F.expr(
                        "transform(_ih, x -> struct(x.docId AS docId,"
                        " x.score AS score))"
                    ).alias("inner_hits"),
                )
            )
            # no broadcast hint: `inner` has one row per distinct
            # collapse value of the FULL matched set (unbounded
            # cardinality at scale) — let AQE pick the join strategy
            hits = hits.join(inner, collapse, "left")

        aggs_body = body.get("aggs") or body.get("aggregations")
        aggs_df = None
        if aggs_body:
            if self.corpus is None:
                raise ValueError("aggregations need an attached corpus")
            from opensearch_spark.search.aggs import compile_aggs

            # aggregations run over the full matched set (size only
            # limits hits), same as the reference's collector chain.
            # `global`-rooted aggs ESCAPE the query scope (reference:
            # bucket/global/GlobalAggregator.java collects every doc in
            # the index regardless of the query) — they compile over the
            # whole corpus and cross-join back (single-row result).
            node = dsl_mod.parse(q) if isinstance(q, dict) else q
            matched = self.compile(node).select("docId")
            scope = self.corpus.join(matched, "docId")
            glob = {n: s for n, s in aggs_body.items()
                    if isinstance(s, dict) and "global" in s}
            rest = {n: s for n, s in aggs_body.items() if n not in glob}
            aggs_df = compile_aggs(scope, rest) if rest else None
            for gname, gspec in glob.items():
                # the global bucket's doc_count is ALWAYS prefixed with
                # the agg name so the output shape doesn't depend on
                # whether scoped siblings exist
                gdf = compile_aggs(self.corpus, {gname: gspec}) \
                    .withColumnRenamed("doc_count", f"{gname}_doc_count")
                if aggs_df is None:
                    aggs_df = gdf
                else:
                    clash = [c for c in gdf.columns
                             if c in aggs_df.columns and c != f"key_{gname}"]
                    if clash:
                        raise ValueError(
                            f"global agg '{gname}' produces columns that "
                            f"collide with scoped siblings: {clash} — "
                            "rename the sub-aggregations")
                    aggs_df = aggs_df.crossJoin(gdf.drop(f"key_{gname}"))

        if (body.get("_source") or body.get("derived") or body.get("derived_fields")
                or body.get("docvalue_fields") or "highlight" in body):
            if local is None:
                # hits may carry corpus columns (collapse key, field-sort
                # keys); the fetch join would duplicate them — keep only
                # the hit identity (+ computed columns like inner_hits)
                # and let the corpus join restore the rest. Hits hold at
                # most `size` rows: the limit turns fetch()'s
                # range-partitioned sort into one TakeOrderedAndProject
                corp_cols = set(self.corpus.columns) - {"docId"}
                hits = self._finish(self.fetch(
                    hits.drop(*[c for c in hits.columns if c in corp_cols])).limit(size),
                    self._fetch_ops(body), body.get("_source"))
            else:
                hits = self._render(local, body=body)
        elif local is not None:
            hits = self._render(local)
        out = {"hits": hits, "aggregations": aggs_df}
        if body.get("profile"):
            # reference: search/profile/ (RestSearchAction `profile=true`)
            # — per-phase breakdowns of the query execution. The Spark
            # analog of the Lucene query tree is the PHYSICAL PLAN, so
            # profile returns the executed plan per phase plus wall-time
            # once an action runs; plan strings are available immediately.
            # "path" says which tier answered the hits: "driver" (in
            # process, _driver_topk, with its block counters, whether
            # this request loaded the resident table, with a fetch which
            # fetch ran and the corpus rows it read, and "render": whether
            # any DataFrame post-processing ran) or "spark".
            prof: dict = {"query": {
                "plan": hits._jdf.queryExecution().executedPlan().toString(),
                "parsed": repr(dsl_mod.parse(q) if isinstance(q, dict) else q),
                "path": "spark" if local is None else "driver",
                **({} if local is None else local.attrs["tier"]),
            }}
            if aggs_df is not None:
                prof["aggregations"] = {
                    "plan": aggs_df._jdf.queryExecution()
                    .executedPlan().toString(),
                }
            out["profile"] = prof
        tth = body.get("track_total_hits")
        if tth:
            # reference: track_total_hits true = exact count, an int =
            # count accurately up to that threshold ("gte" beyond) —
            # answered by the no-scoring count() shortcut
            total = self.count(q)
            if tth is not True and total > int(tth):
                out["total"] = {"value": int(tth), "relation": "gte"}
            else:
                out["total"] = {"value": int(total), "relation": "eq"}
        return out

    def search_template(self, body: dict) -> dict:
        """`_search/template` (reference: lang-mustache
        MustacheScriptEngine.java): render a Mustache template into a
        `_search` body, then execute it. ``body``: {"source": template,
        "params": {...}} or {"id": stored_id, "params": {...}} with
        templates stored via ``self.templates.put``."""
        from opensearch_spark.search import templates as T

        src = body.get("source")
        if src is None:
            src = self.templates.get(body["id"])
        if not isinstance(src, str):
            src = json.dumps(src)
        return self.request(T.render_query(src, body.get("params")))

    def msearch_template(self, items: Sequence[dict]) -> DataFrame:
        """`_msearch/template` (reference: MultiSearchTemplateAction):
        render each Mustache template into a search body, execute ALL of
        them as ONE msearch job. Per-item ``size`` trims each query's
        hits from the shared top-k. Returns (qid, docId, score)."""
        from pyspark.sql import Window

        from opensearch_spark.search import templates as T

        bodies = []
        for it in items:
            src = it.get("source")
            if src is None:
                src = self.templates.get(it["id"])
            if not isinstance(src, str):
                src = json.dumps(src)
            bodies.append(T.render_query(src, it.get("params")))
        if not bodies:
            return self.spark.createDataFrame([], "qid int, " + SCORE_SCHEMA)
        sizes = [int(b.get("size", 10)) for b in bodies]
        out = self.msearch([b["query"] for b in bodies], k=max(sizes))
        size_df = self.spark.createDataFrame(
            list(enumerate(sizes)), "qid int, _size int"
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(size_df), "qid")
            .where(F.col("_rn") <= F.col("_size"))
            .drop("_rn", "_size")
            .orderBy("qid", F.desc("score"), F.asc("docId"))
        )

    def rescore(
        self,
        query: dict | A.AnyNode,
        rescore_query: dict | A.AnyNode,
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_query_weight: float = 1.0,
    ) -> DataFrame:
        """Second-pass rescoring (reference: QueryRescorer.java:58): the
        top ``window_size`` hits of the primary query are re-ranked by
        ``query_weight * primary + rescore_query_weight * secondary``;
        docs outside the window keep their order below the window."""
        window = self.search(query, k=window_size)
        node2 = (
            dsl_mod.parse(rescore_query)
            if isinstance(rescore_query, dict)
            else dsl_mod.normalize(rescore_query)
        )
        sec = self.compile(node2).withColumnRenamed("score", "_sec")
        out = (
            window.join(F.broadcast(sec), "docId", "left")
            .select(
                "docId",
                (
                    F.col("score") * F.lit(float(query_weight))
                    + F.coalesce(F.col("_sec"), F.lit(0.0))
                    * F.lit(float(rescore_query_weight))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("docId"))
            .limit(k)
        )
        return out

    def scroll(self, query: dict | A.AnyNode, batch_size: int = 100,
               slice_: dict | None = None):
        """Scroll/PIT analog (reference: Scroll.java:51,
        CreatePitController.java:52): the index tables are immutable
        parquet, so a scroll is snapshot-consistent by construction
        (open_pit() pins the file set explicitly for long-lived
        readers); pagination is keyset-based over (score desc, docId
        asc) — yields lists of Row batches until exhausted. ``slice_``
        = {"id": i, "max": m} scrolls the i-th of m disjoint hash
        slices (parallel scroll, SliceBuilder.java:82)."""
        after = None
        while True:
            rows = self.search(
                query, k=batch_size, search_after=after, slice_=slice_
            ).collect()
            if not rows:
                return
            yield rows
            last = rows[-1]
            after = (float(last["score"]), int(last["docId"]))

    def analyze(self, text: str, tokenizer: str | dict | None = None,
                filters: list | None = None,
                char_filters: list | None = None) -> list:
        """`_analyze` endpoint (reference: RestAnalyzeAction /
        TransportAnalyzeAction): run THIS index's analyzer over a string
        and return tokens with positions + character offsets. Passing
        ``tokenizer`` / ``filters`` / ``char_filters`` runs a CUSTOM
        chain instead (the analysis-common surface: stop/stemmer/
        shingle/ngram/synonym/... — see analysis/filters.py)."""
        if tokenizer is not None or filters or char_filters:
            from opensearch_spark.analysis.filters import analyze_chain

            return analyze_chain(
                text or "", tokenizer=tokenizer or "standard",
                filters=filters or (), char_filters=char_filters or (),
            )

        from opensearch_spark.analysis.analyzer import (
            WHITESPACE_PATTERN, tokenize_offsets,
        )

        if self.analyzer == "keyword":
            return ([{"token": text, "position": 0, "start_offset": 0,
                      "end_offset": len(text)}] if text else [])
        if self.analyzer == "whitespace":
            return [
                {"token": m.group(0), "position": i,
                 "start_offset": m.start(), "end_offset": m.end()}
                for i, m in enumerate(re.finditer(WHITESPACE_PATTERN, text or ""))
            ]
        return [
            {"token": tok, "position": i, "start_offset": s, "end_offset": e}
            for i, (tok, s, e) in enumerate(tokenize_offsets(text))
        ]

    def termvectors(self, doc_id: int, term_statistics: bool = False,
                    field_statistics: bool = True) -> dict:
        """`_termvectors` (reference: TermVectorsService.java:73): per-doc
        term frequencies with positions + character offsets. Like the
        reference when vectors aren't stored in the index, the document's
        source text is RE-ANALYZED on demand (a single-doc GET + driver
        tokenize — the same cost model as the reference's single-shard
        request). ``term_statistics`` adds df/ttf from the index term
        dictionary; ``field_statistics`` adds the field's aggregate
        stats (doc_count, sum_doc_freq, sum_ttf)."""
        if self.corpus is None:
            raise ValueError("termvectors needs an attached corpus")
        rows = self.corpus.where(F.col("docId") == int(doc_id)).select(
            self.text_field
        ).collect()
        if not rows:
            return {"found": False, "_id": int(doc_id)}
        out = {"found": True, "_id": int(doc_id),
               "terms": self._term_vector(rows[0][0], term_statistics)}
        if field_statistics:
            out["field_statistics"] = self._field_statistics()
        return out

    def _term_vector(self, text: str | None, term_statistics: bool) -> Dict[str, dict]:
        """term -> {term_freq, tokens[, doc_freq, ttf]} of ``text``
        re-analyzed, in term order; ``term_statistics`` adds each
        indexed term's df/ttf from the term dictionary."""
        terms: Dict[str, dict] = {}
        for t in self.analyze(text or ""):
            e = terms.setdefault(t["token"], {"term_freq": 0, "tokens": []})
            e["term_freq"] += 1
            e["tokens"].append({k: t[k] for k in ("position", "start_offset", "end_offset")})
        if term_statistics:
            m = self._load_term_df_map()
            for term, e in terms.items():
                if term in m:
                    e["doc_freq"], e["ttf"] = m[term], self._term_ttf[term]
        return dict(sorted(terms.items()))

    def _field_statistics(self) -> dict:
        """Aggregate stats of the indexed field, from the term dictionary."""
        self._load_term_df_map()
        return {"doc_count": int(self.doc_count),
                "sum_doc_freq": self._n_postings, "sum_ttf": self._sum_ttf}

    def mtermvectors(self, doc_ids: Sequence[int],
                     term_statistics: bool = False,
                     field_statistics: bool = True) -> list:
        """`_mtermvectors` (reference: RestMultiTermVectorsAction): the
        batch form — ONE corpus pushdown fetch for all ids instead of a
        job per doc; statistics come from the engine's term
        dictionary."""
        if self.corpus is None:
            raise ValueError("mtermvectors needs an attached corpus")
        ids = [int(i) for i in doc_ids]
        rows = self.corpus.where(F.col("docId").isin(ids)).select(
            "docId", self.text_field
        ).collect()
        texts = {int(r["docId"]): r[1] for r in rows}
        docs = [{"found": True, "_id": i,
                 "terms": self._term_vector(texts[i], term_statistics)}
                if i in texts else {"found": False, "_id": i} for i in ids]
        if field_statistics:
            fs = self._field_statistics()
            for d in docs:
                if d.get("found"):
                    d["field_statistics"] = fs
        return docs

    def get(self, doc_id: int) -> dict:
        """Single-document GET (reference: RestGetAction /
        TransportGetAction — realtime read from the live corpus): one
        pushdown-filtered scan."""
        if self.corpus is None:
            raise ValueError("get needs an attached corpus")
        rows = self.corpus.where(F.col("docId") == int(doc_id)).collect()
        if not rows:
            return {"_id": int(doc_id), "found": False}
        src = rows[0].asDict()
        src.pop("docId", None)
        return {"_id": int(doc_id), "found": True, "_source": src}

    def get_source(self, doc_id: int) -> dict | None:
        """`_source` GET (reference: RestGetSourceAction): the bare
        source document, or None when missing."""
        g = self.get(doc_id)
        return g["_source"] if g["found"] else None

    def update(self, doc_id: int, doc: dict | None = None,
               script=None) -> dict:
        """Single-document `_update` (reference: RestUpdateAction /
        UpdateHelper): partial-doc merge or a script callable
        ``fn(source_dict) -> source_dict``, written through the
        versioned upsert path (tombstone old docId -> compact -> add).
        Readers opened BEFORE the update keep serving the old
        generation; re-open the engine to see the new one."""
        g = self.get(doc_id)
        if not g["found"]:
            raise ValueError(f"document {doc_id} not found")
        orig = dict(g["_source"])
        src = dict(orig)
        if doc:
            src.update(doc)
        if script is not None:
            src = script(src)
        if self.doc_id_col is None:
            # docId derives from id_cols (xxhash64): changing an id
            # field would re-key the doc and leave the old version live
            # — the reference likewise forbids changing _id via _update
            changed = [c for c in self.id_cols if src.get(c) != orig.get(c)]
            if changed:
                raise ValueError(
                    f"_update cannot change id fields {changed}")
        from pyspark.sql.types import StructType

        from opensearch_spark.index.incremental import upsert_batch

        row = dict(src)
        if self.doc_id_col is not None:
            row[self.doc_id_col] = int(doc_id)
        # explicit corpus schema (minus the derived docId): schema-less
        # inference crashes on null fields and can drift on int widths
        schema = StructType(
            [f for f in self.corpus.schema.fields if f.name != "docId"])
        batch = self.spark.createDataFrame(
            [tuple(row.get(f.name) for f in schema.fields)], schema)
        upsert_batch(
            self.spark, batch, self.paths.root,
            text_col=self.text_field,
            id_cols=self.id_cols, doc_id_col=self.doc_id_col,
        )
        return {"_id": int(doc_id), "result": "updated", "_source": src}

    def validate_query(self, query: dict) -> dict:
        """`_validate/query` (reference: RestValidateQueryAction):
        parse + compile without executing; returns {"valid": bool,
        "error": str | None} — `explain`-style rewrite info is the
        normalized AST repr."""
        try:
            node = dsl_mod.parse(query)
            self.compile(node)  # plan only — no action runs
            return {"valid": True, "error": None,
                    "explanation": repr(node)}
        except Exception as e:  # noqa: BLE001 — the API contract is non-throwing
            return {"valid": False, "error": f"{type(e).__name__}: {e}"}

    def mappings(self) -> dict:
        """`_mapping` (reference: RestGetMappingAction): field -> type,
        derived from the corpus schema; the indexed full-text field is
        marked `text`, everything else maps from its Spark type."""
        type_map = {"string": "keyword", "long": "long", "int": "integer",
                    "double": "double", "float": "float",
                    "boolean": "boolean", "timestamp": "date",
                    "date": "date", "binary": "binary"}
        out: dict = {}
        if self.corpus is not None:
            for f in self.corpus.schema.fields:
                if f.name == "docId":
                    continue
                t = f.dataType.simpleString()
                out[f.name] = {
                    "type": "text" if f.name == self.text_field
                    else type_map.get(t, t)
                }
        else:
            out[self.text_field] = {"type": "text"}
        return {"properties": out}

    def stats(self) -> dict:
        """`_stats` (reference: RestIndicesStatsAction subset): doc
        counts, segment/generation counts, deletes, on-disk bytes of the
        served commit's files."""
        def du(table: str) -> int:
            return sum(os.path.getsize(self.paths.table(table, f))
                       for f in self.globals["files"][table])

        n_segs = self.docstats.select("seg").distinct().count()
        return {
            "docs": {"count": self.doc_count, "deleted": self._n_deletes},
            "segments": {"count": n_segs,
                         "generations": int(self.globals.get("generations", 1))},
            "store": {
                "postings_bytes": du("postings"),
                "docstats_bytes": du("docstats"),
                "termstats_bytes": du("termstats"),
            },
            "avgdl": self.avgdl,
        }

    def explain(self, query: dict | A.AnyNode, doc_id: int) -> dict:
        """_explain analog: per-clause score breakdown for one document
        (reference: TransportExplainAction / Lucene Explanation). For
        match queries returns per-term scores: with their BM25 idf and
        formula, or under a scripted or docs-only similarity, that
        similarity's name."""
        node = dsl_mod.parse(query) if isinstance(query, dict) else dsl_mod.normalize(query)
        out: dict = {"docId": int(doc_id), "total": 0.0, "details": []}
        total_row = (
            self.compile(node).where(F.col("docId") == int(doc_id)).collect()
        )
        out["matched"] = bool(total_row)
        out["total"] = float(total_row[0]["score"]) if total_row else 0.0
        if isinstance(node, A.Match):
            terms = self._tok(node.query)
            idfs = self._idfs(terms)
            sim = self.similarity
            formula = ("idf * tf / (tf + k1 * (1 - b + b * dl/avgdl))" if sim is None
                       else f"{getattr(sim, '__name__', 'similarity')}(tf, df, dl_q, avgdl, N)")
            for t in sorted(idfs):
                one = (
                    self.compile(A.Match(field_name=node.field_name, query=t))
                    .where(F.col("docId") == int(doc_id))
                    .collect()
                )
                if one:
                    out["details"].append({
                        "term": t,
                        **({"idf": idfs[t]} if sim is None else {}),
                        "score": float(one[0]["score"]),
                        "description": f"weight({node.field_name}:{t}) = boost * {formula}",
                    })
        return out

    def suggest(self, text: str, size: int = 5, max_edits: int = 2,
                prefix_length: int = 1, min_doc_freq: int = 1,
                suggest_mode: str = "missing") -> dict:
        """Term suggester ("did you mean", reference:
        ``search/suggest/term/TermSuggester.java``): per analyzed token,
        candidate terms from the dictionary within ``max_edits``
        Levenshtein, sharing a ``prefix_length`` prefix, ordered by
        (edit distance asc, doc freq desc, term asc). Answered from the
        engine's term dictionary (``_near``), no Spark job.

        ``suggest_mode`` (reference: TermSuggestionBuilder.SuggestMode):
        "missing" = only suggest for tokens absent from the index;
        "popular" = only candidates more frequent than the input token;
        "always" = suggest regardless."""
        m = self._load_term_df_map()
        mode = str(suggest_mode).lower()
        out: dict = {}
        for tok in dict.fromkeys(self._tok(text)):
            df = m.get(tok, 0)
            if mode == "missing" and df > 0:
                out[tok] = []
                continue
            least = max(min_doc_freq, df + 1) if mode == "popular" else min_doc_freq
            terms, dist = self._near(tok, max_edits, prefix_length)
            best = heapq.nsmallest(size, (
                (int(d), -m[t], t) for t, d in zip(terms, dist)
                if t != tok and m[t] >= least))
            out[tok] = [{"text": t, "freq": -f, "distance": d} for d, f, t in best]
        return out

    def suggest_phrase(self, text: str, size: int = 5, max_edits: int = 2,
                       prefix_length: int = 1, max_candidates: int = 4,
                       real_word_error_likelihood: float = 0.95) -> list:
        """Phrase suggester (reference: search/suggest/phrase/
        PhraseSuggester.java): whole-phrase corrections ranked by a
        language-model score. Documented simplified variant of the
        reference's Laplace-smoothed bigram LM: per-token candidates
        come from the term dictionary (the term suggester's, no Spark
        job); each candidate scores
        ``ln((df+1)/(N+1)) + channel`` with channel = ln(rwel) for the
        unchanged in-dictionary token and edits * ln(1 - rwel) per edit;
        the phrase score sums token scores and candidates combine by a
        left-to-right beam fold (the reference's candidate-set beam;
        bounded beam width, never the cartesian product — a 12-token
        phrase at 5 candidates/token would otherwise materialize ~244M
        combos on the driver).
        Returns [{"text", "score"}] best-first, input phrase excluded."""
        import math as _math

        toks = self._tok(text)
        if not toks:
            return []
        n = self.doc_count
        per_token: List[List[tuple]] = []
        # candidate generation ignores suggest_mode (the reference's
        # phrase suggester generates candidates for every token)
        sug = self.suggest(text, size=max_candidates, suggest_mode="always",
                           max_edits=max_edits, prefix_length=prefix_length)
        dfs = self._dfs(toks)
        chan_err = _math.log(max(1.0 - real_word_error_likelihood, 1e-9))
        for tok in toks:
            cands: List[tuple] = []
            df_self = dfs.get(tok, 0)
            base = _math.log((df_self + 1) / (n + 1))
            if df_self > 0:
                cands.append((tok, base + _math.log(real_word_error_likelihood)))
            else:
                cands.append((tok, base + chan_err))  # unknown kept, penalized
            for c in sug.get(tok, []):
                lm = _math.log((c["freq"] + 1) / (n + 1))
                cands.append((c["text"], lm + c["distance"] * chan_err))
            per_token.append(cands[: max_candidates + 1])
        # beam fold: keep the best `beam` partial phrases per prefix
        # length. beam >= size+1 so dropping the input phrase at the end
        # still leaves `size` full candidates.
        beam = max(size + 1, (max_candidates + 1) ** 2)
        partials: List[tuple] = [((), 0.0)]
        for cands in per_token:
            partials = [
                (words + (w,), s + cs) for words, s in partials for w, cs in cands
            ]
            partials.sort(key=lambda p: (-p[1], p[0]))
            partials = partials[:beam]
        out = [
            {"text": " ".join(words), "score": float(s)}
            for words, s in partials
            if list(words) != toks
        ]
        out.sort(key=lambda d: (-d["score"], d["text"]))
        return out[:size]

    def suggest_completion(self, prefix: str, size: int = 5,
                           skip_duplicates: bool = True) -> list:
        """Completion suggester (reference: search/suggest/completion/
        CompletionSuggester.java — FST-backed prefix automaton with
        per-entry weights). Dictionary-backed variant: the term
        dictionary IS the suggestion corpus and document frequency the
        weight; answered from the engine's term dictionary, no Spark job.
        The prefix is lowercased only on an index whose analyzer
        lowercases (``standard``). Returns [{"text", "weight"}] by
        (weight desc, text)."""
        pref = prefix.lower() if self.analyzer == "standard" else prefix
        m = self._load_term_df_map()
        lo, hi = self._prefix_range(pref)
        top = heapq.nsmallest(size, self._terms[lo:hi], key=lambda t: (-m[t], t))
        return [{"text": t, "weight": m[t]} for t in top]

    def rank_eval(self, body: dict) -> dict:
        """`_rank_eval` (reference: modules/rank-eval — precision@k,
        recall@k, MRR, (n)dcg@k, expected reciprocal rank over rated
        search requests). One msearch job runs all rated requests."""
        from opensearch_spark.search.rankeval import rank_eval as _re

        return _re(self, body)

    def msearch(self, queries: Sequence[dict], k: int = 10) -> DataFrame:
        """Batched multi-search (reference: the `_msearch` endpoint,
        ``action/search/TransportMultiSearchAction.java``): N queries in
        ONE Spark job. All match/phrase/bool queries share a single
        postings scan + per-segment decode (msearch.py); other query
        families fall back to the per-query compiler and are unioned in.
        Returns DataFrame(qid, docId, score), per-qid top-k ordered by
        (score desc, docId asc).

        A batch of program queries small enough for the driver-local
        tier is answered in process instead, as an in-memory frame
        (``_driver_topk``).

        Repeated batches hit a small compiled-plan cache: re-collecting
        the SAME DataFrame object skips Catalyst analysis/optimization,
        which is the fixed per-batch driver cost in the serving regime."""
        self._check_open()
        nodes = [
            dsl_mod.parse(q) if isinstance(q, dict) else dsl_mod.normalize(q)
            for q in queries
        ]
        local = self._driver_topk(nodes, k)
        if local is not None:
            return self._render(local, ("qid", "docId", "score"))
        sig = (self._plan_sig(list(queries), int(k))
               if all(isinstance(q, dict) for q in queries) else None)
        cached = self._cached_plan(self._msearch_plans, sig)
        if cached is not None:
            return cached
        return self._cached_plan(self._msearch_plans, sig, self._msearch_build(nodes, k))

    def msearch_many(self, batches: Sequence[Sequence[dict]], k: int = 10,
                     max_concurrent: int = 4) -> list:
        """Pipelined batch submission: up to ``max_concurrent`` msearch
        batches run at once from a thread pool, so one batch's parse,
        planning and Py4J hand-off overlap another's Spark job or
        driver-tier scoring (the tier scores one batch at a time).
        Returns the collected rows of each batch, order preserved."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        run = inheritable_thread_target(
            lambda b: self.msearch(b, k=k).collect()
        )
        with ThreadPoolExecutor(max_workers=int(max_concurrent)) as pool:
            return list(pool.map(run, batches))

    def count_frame(self, query: dict | A.AnyNode) -> DataFrame:
        """``_count`` as a 1-row DataFrame ``(total: bigint)`` —
        the count of live docs matching ``query`` (reference: the
        `_count` endpoint, RestCountAction.java). The DataFrame form of
        :meth:`count` for callers composing plans: the match predicate
        + a partial-aggregated COUNT — no top-k heap, no fetch phase,
        nothing driver-side but the single row. (:meth:`count` itself
        additionally takes a no-scoring postings shortcut for plain
        match queries and returns the int.)"""
        node = (dsl_mod.parse(query) if isinstance(query, dict)
                else dsl_mod.normalize(query))
        return self.compile(node).agg(
            F.count(F.lit(1)).cast("long").alias("total"))

    def mget(self, ids: Sequence[int],
             source_includes: Sequence[str] | None = None) -> DataFrame:
        """``_mget`` — fetch live docs by id (reference: the `_mget`
        endpoint, ``action/get/TransportMultiGetAction.java``). Returns
        one row per FOUND id with ``docId`` + the requested source
        columns (default: all); deleted and unknown ids produce no row
        (the reference marks them ``found: false``). The id set is a
        broadcast-able literal IN-list, so the corpus scan prunes on
        docId min/max — a point-lookup, not a shuffle."""
        if self.corpus is None:
            raise ValueError("mget needs an attached corpus")
        cols = list(source_includes) if source_includes is not None else [
            c for c in self.corpus.columns if c != "docId"]
        df = self.corpus.where(
            F.col("docId").isin([int(i) for i in ids]))
        return self._live(df).select("docId", *cols)

    def _msearch_build(self, nodes: Sequence[A.AnyNode], k: int) -> DataFrame:
        from pyspark.sql import Window

        from opensearch_spark.search import msearch as M

        progs, idfs = self._programs(nodes)
        programs = [p for p in progs if p is not None]
        fallback = [(qid, n) for qid, (n, p) in enumerate(zip(nodes, progs)) if p is None]

        parts: List[DataFrame] = []
        terms = M.required_terms(programs)
        if terms:
            # over-fetch per segment by the tombstone count (deletes are
            # filtered after the per-segment heads are taken)
            scorer = M.make_msearch_scorer(
                programs, idfs, self.avgdl, k + self._n_deletes
            )
            parts.append(
                self._postings_for(terms)
                .groupBy("seg")
                .applyInPandas(scorer, M.MSEARCH_SCHEMA)
            )
        for qid, n in fallback:
            df = (
                self.compile(n, topk=k)
                .orderBy(F.desc("score"), F.asc("docId"))
                .limit(k)
            )
            parts.append(
                df.select(F.lit(qid).cast("int").alias("qid"), "docId", "score")
            )
        if not parts:
            return self.spark.createDataFrame([], "qid int, " + SCORE_SCHEMA)
        # hot path bypasses compile(): filter tombstones here
        u = self._live(functools.reduce(DataFrame.unionByName, parts))
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
        return (
            u.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
            .orderBy("qid", F.desc("score"), F.asc("docId"))
        )

    def fetch(self, hits: DataFrame) -> DataFrame:
        """Join top-k hits back to corpus rows (the fetch phase): one
        corpus scan with the hits broadcast, sorted (score desc, docId
        asc). Driver-tier hits usually skip it: ``_render``."""
        if self.corpus is None:
            raise ValueError("no corpus attached")
        return self.corpus.join(F.broadcast(hits), "docId").orderBy(
            F.desc("score"), F.asc("docId")
        )

    def count(self, query: dict | A.AnyNode) -> int:
        """Hit count. A match query with one known term (or a required
        term missing from the index) is answered from the term
        dictionary alone (reference: shortcutTotalHitCount,
        TopDocsCollectorContext.java:154). Everything else counts the
        compiled frame; match/phrase/bool run the exhaustive program
        scorer. The shortcut is off when tombstones exist."""
        node = dsl_mod.parse(query) if isinstance(query, dict) else dsl_mod.normalize(query)
        if self.deletes is None and isinstance(node, A.Match):
            terms = self._tok(node.query)
            if terms:
                dfs = self._dfs(terms)
                uniq = sorted(set(terms))
                known = [t for t in uniq if dfs.get(t, 0) > 0]
                if not known or (node.operator == "and" and len(known) < len(uniq)):
                    return 0
                if len(known) == 1 and node.minimum_should_match <= 1:
                    return int(dfs[known[0]])
        return self.compile(node).count()

    # ---- compilation ----------------------------------------------------

    def compile(self, node: A.AnyNode, topk: Optional[int] = None) -> DataFrame:
        """AST -> DataFrame(docId, score) of ALL matching docs. ``topk``
        enables per-segment pruning (safe only at the top level).
        Soft-deleted docs are filtered (liveDocs analog) — a no-op when
        no tombstones exist. Per-segment top-k pruning over-fetches by
        the tombstone count so deleted docs cannot crowd out live ones;
        past MAX_PRUNE_DELETES that over-fetch defeats pruning, so the
        exhaustive path runs instead (compaction reclaims the dead docs
        and restores pruning)."""
        self._check_open()
        if topk is not None and self._n_deletes:
            if self._n_deletes > self.MAX_PRUNE_DELETES:
                topk = None
            else:
                topk = topk + self._n_deletes
        return self._live(self._compile_node(node, topk))

    def _compile_node(self, node: A.AnyNode, topk: Optional[int] = None) -> DataFrame:
        if isinstance(node, A.Match):
            return self._match(node, topk)
        if isinstance(node, A.MatchPhrase):
            return self._phrase(node, topk)
        if isinstance(node, A.Bool):
            return self._bool(node, topk)
        if isinstance(node, A.MatchAll):
            return self.docstats.select("docId", F.lit(float(node.boost)).alias("score"))
        if isinstance(node, A.MatchNone):
            return self._empty()
        if isinstance(node, A.Ids):
            return self.docstats.where(F.col("docId").isin(node.values)).select(
                "docId", F.lit(float(node.boost)).alias("score")
            )
        if isinstance(node, A.ConstantScore):
            inner = self.compile(node.filter)
            return inner.select("docId", F.lit(float(node.boost)).alias("score"))
        if isinstance(node, A.DisMax):
            return self._dismax(node)
        if isinstance(node, (A.TermQ, A.TermsQ, A.RangeQ, A.Exists,
                             A.GeoDistanceQ, A.GeoBoundingBoxQ,
                             A.GeoPolygonQ)):
            return self._meta_filter(node).select(
                "docId", F.lit(float(node.boost)).alias("score")
            )
        if isinstance(node, (A.Prefix, A.Wildcard, A.Regexp, A.Fuzzy)):
            return self._multi_term(node)
        if isinstance(node, A.MatchBoolPrefix):
            return self._match_bool_prefix(node)
        if isinstance(node, A.MatchPhrasePrefix):
            return self._phrase_prefix(node, topk)
        if isinstance(node, A.MoreLikeThis):
            return self._mlt(node)
        if isinstance(node, A.MultiMatch):
            if node.type == "cross_fields":
                return self._cross_fields(node)
            return self.compile(self._expand_multi_match(node), topk)
        if isinstance(node, A.TermsSetQ):
            # CoveringQuery: >= required of the terms present, scored as
            # the sum of matching term BM25 scores — exactly a match
            # with minimum_should_match (terms are single tokens)
            self._check_field(node.field_name)
            return self._match(
                A.Match(field_name=node.field_name,
                        query=" ".join(node.terms),
                        minimum_should_match=max(int(node.required), 1),
                        boost=node.boost),
                topk,
            )
        if isinstance(node, A.RankFeature):
            if self.corpus is None:
                raise ValueError("rank_feature needs an attached corpus")
            x = F.col(node.field_name).cast("double")
            if node.function == "log":
                s = F.log(F.lit(node.scaling_factor) + x)
            elif node.function == "sigmoid":
                xp = F.pow(x, F.lit(node.exponent))
                s = xp / (xp + F.lit(node.pivot ** node.exponent))
            else:
                s = x / (x + F.lit(node.pivot))
            return self.corpus.where(x.isNotNull() & (x > 0)).select(
                "docId", (s * F.lit(float(node.boost))).alias("score")
            )
        if isinstance(node, A.Pinned):
            organic = self.compile(node.organic)
            rows = [(int(d), 1e9 - i) for i, d in enumerate(node.ids)]
            pinned = self.spark.createDataFrame(rows, "docId long, score double")
            # pinned docs must exist in the index (reference skips unknown
            # ids) and override their organic score
            pinned = pinned.join(self.docstats.select("docId"), "docId", "left_semi")
            organic = organic.join(F.broadcast(pinned.select("docId")),
                                   "docId", "left_anti")
            return organic.unionByName(pinned)
        if isinstance(node, A.DistanceFeature):
            if self.corpus is None:
                raise ValueError("distance_feature needs an attached corpus")
            c = F.col(node.field_name).cast("double")
            score = (
                F.lit(float(node.boost)) * F.lit(node.pivot)
                / (F.lit(node.pivot) + F.abs(c - F.lit(node.origin)))
            )
            return self.corpus.where(c.isNotNull()).select(
                "docId", score.alias("score")
            )
        if isinstance(node, A.ScriptQ):
            if self.corpus is None:
                raise ValueError("script query needs an attached corpus")
            return self.corpus.where(F.expr(node.source)).select(
                "docId", F.lit(float(node.boost)).alias("score")
            )
        if isinstance(node, A.CommonTerms):
            return self.compile(self._expand_common(node), topk)
        if isinstance(node, A.Nested):
            return self._nested(node)
        if isinstance(node, A.CombinedFields):
            return self._combined_fields(node)
        if isinstance(node, (A.SpanTerm, A.SpanNear, A.SpanOr, A.SpanFirst,
                             A.SpanNot, A.SpanWithin, A.SpanContaining,
                             A.SpanMulti)):
            node = self._rewrite_span_multi(node)
            return self._span_like(_span_expr(node), float(node.boost))
        if isinstance(node, A.Intervals):
            self._check_field(node.field_name)
            rule = self._expand_interval_rule(node.rule, node.field_name)
            return self._span_like(_interval_expr(rule), float(node.boost))
        if isinstance(node, A.FunctionScore):
            return self._function_score(node)
        if isinstance(node, A.Boosting):
            return self._boosting(node)
        raise ValueError(f"cannot compile: {node!r}")

    def _nested(self, node: A.Nested) -> DataFrame:
        """nested query = explode -> child predicate -> groupBy(parent)
        with score_mode (reference: NestedQueryBuilder / block-join;
        children here live inline in the parent row, so no join is
        needed — one explode + one aggregation)."""
        if self.corpus is None:
            raise ValueError("nested query needs an attached corpus")
        if node.path not in self.corpus.columns:
            raise ValueError(f"nested path {node.path!r} is not a corpus column")
        child = self.corpus.select(
            "docId", F.explode(F.col(node.path)).alias("_child")
        )

        def c(f: str):
            # inner fields are addressed as "path.field" (reference
            # convention); bare names are accepted too
            name = f[len(node.path) + 1:] if f.startswith(node.path + ".") else f
            return F.col("_child." + name)

        def pred(n: A.AnyNode):
            if isinstance(n, A.TermQ):
                return c(n.field_name) == F.lit(n.value), F.lit(1.0)
            if isinstance(n, A.TermsQ):
                return c(n.field_name).isin(n.values), F.lit(1.0)
            if isinstance(n, A.RangeQ):
                col = c(n.field_name)
                cond = F.lit(True)
                if n.gte is not None:
                    cond = cond & (col >= F.lit(n.gte))
                if n.gt is not None:
                    cond = cond & (col > F.lit(n.gt))
                if n.lte is not None:
                    cond = cond & (col <= F.lit(n.lte))
                if n.lt is not None:
                    cond = cond & (col < F.lit(n.lt))
                return cond, F.lit(1.0)
            if isinstance(n, A.Exists):
                return c(n.field_name).isNotNull(), F.lit(1.0)
            if isinstance(n, A.Bool):
                conds = [pred(x)[0] for x in n.must + n.filter]
                nots = [pred(x)[0] for x in n.must_not]
                cond = F.lit(True)
                for x in conds:
                    cond = cond & x
                for x in nots:
                    cond = cond & ~x
                return cond, F.lit(1.0)
            raise ValueError(
                f"nested inner query supports term-level predicates, got {type(n).__name__}"
            )

        cond, child_score = pred(node.query)
        matched = child.where(cond).select("docId", child_score.alias("_s"))
        mode = node.score_mode
        agg = {
            "sum": F.sum("_s"), "max": F.max("_s"), "min": F.min("_s"),
            "avg": F.avg("_s"), "none": F.count("_s") * F.lit(0.0),
        }[mode]
        return matched.groupBy("docId").agg(
            (agg * F.lit(float(node.boost))).alias("score")
        )

    def _expand_common(self, node: A.CommonTerms) -> A.AnyNode:
        """common terms -> df-threshold split bool (reference:
        MatchQuery.java:344-369): low-freq terms drive matching (with
        low_freq_operator / minimum_should_match), high-freq terms only
        add score via a should clause."""
        self._check_field(node.field_name)
        terms = self._tok(node.query)
        if not terms:
            return A.MatchNone()
        cutoff = node.cutoff_frequency
        max_df = cutoff * self.doc_count if cutoff < 1.0 else cutoff
        dfs = self._dfs(terms)
        low = [t for t in terms if dfs.get(t, 0) <= max_df]
        high = [t for t in terms if t in dfs and dfs[t] > max_df]
        if not low:
            return A.Match(field_name=node.field_name, query=" ".join(high),
                           operator=node.high_freq_operator, boost=node.boost)
        low_match = A.Match(field_name=node.field_name, query=" ".join(low),
                            operator=node.low_freq_operator,
                            minimum_should_match=node.minimum_should_match)
        if not high:
            low_match.boost = node.boost
            return low_match
        return A.Bool(
            must=[low_match],
            should=[A.Match(field_name=node.field_name, query=" ".join(high),
                            operator=node.high_freq_operator)],
            boost=node.boost,
        )

    def _expand_multi_match(self, node: A.MultiMatch) -> A.AnyNode:
        """multi_match -> per-field match combination (reference:
        MultiMatchQuery.java — best_fields builds a DisMaxQuery over the
        per-field queries, most_fields a should-bool that sums,
        bool_prefix per-field match_bool_prefix). Caret boosts carry
        into the per-field leaves. No ``fields`` = the engine's text
        field (the reference's ``index.query.default_field``)."""
        fields = node.fields or [self.text_field]
        boosts = node.field_boosts or [1.0] * len(fields)
        if node.type == "phrase":
            per: List[A.AnyNode] = [
                A.MatchPhrase(field_name=f, query=node.query, boost=w)
                for f, w in zip(fields, boosts)
            ]
        elif node.type == "bool_prefix":
            per = [
                A.MatchBoolPrefix(field_name=f, query=node.query, boost=w)
                for f, w in zip(fields, boosts)
            ]
        else:
            per = [
                A.Match(field_name=f, query=node.query, operator=node.operator,
                        minimum_should_match=node.minimum_should_match, boost=w)
                for f, w in zip(fields, boosts)
            ]
        if node.type == "most_fields":
            return A.Bool(should=per, minimum_should_match=1, boost=node.boost)
        return A.DisMax(queries=per, tie_breaker=node.tie_breaker,
                        boost=node.boost)

    def _expand_interval_rule(self, rule, field: str):
        """Expand multi-term interval sources (prefix / wildcard /
        fuzzy — reference: IntervalsSourceProvider automata) against the
        term dictionary: each becomes an any_of over single-term
        matches. Pure tree rewrite; the position algebra is unchanged."""
        kind = rule[0]
        if kind in ("prefix", "wildcard", "fuzzy"):
            if kind == "prefix":
                exp = self.expand_terms(A.Prefix(field_name=field, value=rule[1]))
            elif kind == "wildcard":
                exp = self.expand_terms(A.Wildcard(field_name=field, value=rule[1]))
            else:
                exp = self.expand_terms(
                    A.Fuzzy(field_name=field, value=rule[1], fuzziness=rule[2])
                )
            return ("any_of", [("match", [t], -1, False, None) for t in exp])

        def expand_filt(f):
            if f is None:
                return None
            fk, fr = f
            return (fk, self._expand_interval_rule(fr, field))

        if kind == "match":
            if len(rule) > 4 and rule[4] is not None:
                return (*rule[:4], expand_filt(rule[4]))
            return rule
        if kind == "all_of":
            subs = [self._expand_interval_rule(r, field) for r in rule[1]]
            return ("all_of", subs, rule[2], rule[3],
                    expand_filt(rule[4]) if len(rule) > 4 else None)
        if kind == "any_of":
            return ("any_of", [self._expand_interval_rule(r, field)
                               for r in rule[1]])
        return rule

    def _rewrite_span_multi(self, node: "A.AnyNode") -> "A.AnyNode":
        """Replace span_multi wrappers with span_or over the dictionary
        expansion of the wrapped multi-term query (reference:
        SpanMultiTermQueryBuilder -> SpanMultiTermQueryWrapper rewrite)."""
        if isinstance(node, A.SpanMulti):
            exp = self.expand_terms(node.match)
            fld = node.match.field_name
            return A.SpanOr(
                clauses=[A.SpanTerm(field_name=fld, value=t) for t in exp],
                boost=node.boost,
            )
        for attr in ("little", "big", "include", "exclude", "match"):
            c = getattr(node, attr, None)
            if c is not None and not isinstance(c, (str, int, float)):
                setattr(node, attr, self._rewrite_span_multi(c))
        if getattr(node, "clauses", None):
            node.clauses = [self._rewrite_span_multi(c) for c in node.clauses]
        return node

    def _span_like(self, expr: tuple, boost: float) -> DataFrame:
        """span_* / intervals: position-algebra matcher over the query
        terms' postings, one applyInPandas per segment (constant score)."""
        terms = _expr_terms(expr)
        if not terms:
            return self._empty()
        scorer = _make_span_scorer(expr, boost)
        return (
            self._postings_for(terms)
            .groupBy("seg")
            .applyInPandas(scorer, SCORE_SCHEMA)
        )

    def _one_function_col(self, fn: dict) -> "F.Column":
        """One score function -> Catalyst column over the joined corpus
        row (reference: functionscore/*ScoreFunction.java — all are pure
        per-doc arithmetic, so whole-stage codegen owns them)."""
        import math as _math

        kind, p, weight = fn["kind"], fn["params"], float(fn["weight"])
        if kind == "field_value_factor":
            fv = F.col(p["field"]).cast("double")
            if p.get("missing") is not None:
                fv = F.coalesce(fv, F.lit(float(p["missing"])))
            fv = fv * F.lit(float(p["factor"]))
            mod = p["modifier"]
            if mod in ("log1p", "ln1p"):
                fv = F.log1p(fv)
            elif mod == "log2p":
                fv = F.log(F.lit(2.0) + fv)
            elif mod == "ln":
                fv = F.log(fv)
            elif mod == "log":
                fv = F.log(F.lit(10.0), fv)
            elif mod == "sqrt":
                fv = F.sqrt(fv)
            elif mod == "square":
                fv = fv * fv
            elif mod == "reciprocal":
                fv = F.lit(1.0) / fv
            col = fv
        elif kind == "script_score":
            # Painless stand-in: Spark SQL expression over corpus columns;
            # the standalone token `_score` refers to the query score
            # (word-boundary replace — identifiers merely CONTAINING
            # "_score" are untouched)
            src = re.sub(r"(?<![\w])_score\b", "score", p["source"])
            col = F.expr(src).cast("double")
        elif kind == "random_score":
            # deterministic, engine-portable uniform [0, 1): first 8 hex
            # chars of md5(seed ':' docId) / 2^32 (reference:
            # RandomScoreFunction is seeded-hash based too)
            h = F.md5(F.concat_ws(":", F.lit(str(p["seed"])),
                                  F.col("docId").cast("string")))
            col = (
                F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
                / F.lit(4294967296.0)
            )
        elif kind in ("gauss", "exp", "linear"):
            # decay functions (reference: DecayFunctionBuilder.java —
            # gauss: exp(-d²/2σ²), exp: exp(λd), linear: max(0, (s-d)/s)
            # with d = max(0, |x - origin| - offset))
            x = F.col(p["field"]).cast("double")
            d = F.greatest(
                F.lit(0.0),
                F.abs(x - F.lit(p["origin"])) - F.lit(p["offset"]),
            )
            scale, decay = p["scale"], p["decay"]
            if kind == "gauss":
                sigma2 = -(scale * scale) / (2.0 * _math.log(decay))
                col = F.exp(-(d * d) / F.lit(2.0 * sigma2))
            elif kind == "exp":
                lam = _math.log(decay) / scale
                col = F.exp(d * F.lit(lam))
            else:
                s = scale / (1.0 - decay)
                col = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
        else:  # weight-only function
            col = F.lit(1.0)
        if weight != 1.0:
            col = col * F.lit(weight)
        return col

    def _function_score(self, node: A.FunctionScore) -> DataFrame:
        """function_score: per-doc column arithmetic over the matched set
        (reference: FunctionScoreQuery — functions combined by
        score_mode, then applied to the query score by boost_mode).
        Function filters gate each function to a sub-set (non-matching
        docs contribute the identity for the score_mode)."""
        inner = self.compile(node.query)
        if not node.functions:
            return inner
        needs_corpus = any(
            f["kind"] not in ("random_score", "weight") for f in node.functions
        ) or any(f.get("filter") for f in node.functions)
        j = inner
        if needs_corpus:
            if self.corpus is None:
                raise ValueError("function_score needs an attached corpus")
            j = inner.join(self.corpus.drop("score"), "docId")
        # each function contributes only where its filter matches
        # (reference: FunctionScoreQuery combines MATCHING functions only;
        # non-matching ones are excluded, not identity-padded)
        cols: List = []        # function value, NULL where not matching
        hits: List = []        # 1/0 matching indicator
        wts: List = []         # function weight where matching, else 0
        for i, fn in enumerate(node.functions):
            # a matching function with a NULL value (e.g. field_value_
            # factor on a NULL field, no `missing`) contributes 0 —
            # documented divergence from the reference, which throws
            c = F.coalesce(self._one_function_col(fn), F.lit(0.0))
            w = float(fn.get("weight", 1.0))
            if fn.get("filter") is not None:
                hcol = f"_fs_hit{i}"
                hit = self.compile(fn["filter"]).select(
                    "docId", F.lit(1).alias(hcol)
                )
                # no broadcast hint: a function filter can match most of
                # the corpus — AQE picks broadcast when it is small
                j = j.join(hit, "docId", "left")
                matched = F.col(hcol).isNotNull()
                cols.append(F.when(matched, c))
                hits.append(F.when(matched, 1).otherwise(0))
                wts.append(F.when(matched, F.lit(w)).otherwise(F.lit(0.0)))
            else:
                cols.append(c)
                hits.append(F.lit(1))
                wts.append(F.lit(w))
        n_match = hits[0]
        for h in hits[1:]:
            n_match = n_match + h
        w_sum = wts[0]
        for w_ in wts[1:]:
            w_sum = w_sum + w_
        if node.score_mode == "multiply":
            fv = F.coalesce(cols[0], F.lit(1.0))
            for c in cols[1:]:
                fv = fv * F.coalesce(c, F.lit(1.0))
            fv = F.when(n_match > 0, fv)
        elif node.score_mode == "sum":
            fv = F.coalesce(cols[0], F.lit(0.0))
            for c in cols[1:]:
                fv = fv + F.coalesce(c, F.lit(0.0))
            fv = F.when(n_match > 0, fv)
        elif node.score_mode == "avg":
            # reference: WEIGHTED average — sum of (already weight-
            # multiplied) matching values over the sum of their weights
            tot = F.coalesce(cols[0], F.lit(0.0))
            for c in cols[1:]:
                tot = tot + F.coalesce(c, F.lit(0.0))
            fv = F.when(w_sum > 0, tot / w_sum)
        elif node.score_mode == "max":
            # greatest/least skip NULLs: non-matching functions drop out
            fv = F.greatest(*cols) if len(cols) > 1 else cols[0]
        elif node.score_mode == "min":
            fv = F.least(*cols) if len(cols) > 1 else cols[0]
        else:  # first matching function
            fv = F.coalesce(*cols) if len(cols) > 1 else cols[0]
        # no matching function at all -> factor 1 (query score unchanged)
        fv = F.coalesce(fv, F.lit(1.0))
        if node.boost_mode == "sum":
            s = F.col("score") + fv
        elif node.boost_mode == "replace":
            s = fv
        elif node.boost_mode == "avg":
            s = (F.col("score") + fv) / F.lit(2.0)
        elif node.boost_mode == "max":
            s = F.greatest(F.col("score"), fv)
        elif node.boost_mode == "min":
            s = F.least(F.col("score"), fv)
        else:
            s = F.col("score") * fv
        out = j.select("docId", (s * F.lit(float(node.boost))).alias("score"))
        if node.min_score is not None:
            # reference: FunctionScoreQuery.MinScoreScorer / script_score
            # min_score — hits scoring below the cutoff do not match
            out = out.where(F.col("score") >= F.lit(float(node.min_score)))
        return out

    def _boosting(self, node: A.Boosting) -> DataFrame:
        """boosting query: positive matches demoted by negative_boost when
        they also match the negative clause."""
        pos = self.compile(node.positive)
        neg = self.compile(node.negative).select("docId", F.lit(1).alias("_neg"))
        j = pos.join(neg, "docId", "left")
        s = F.when(
            F.col("_neg").isNotNull(),
            F.col("score") * F.lit(float(node.negative_boost)),
        ).otherwise(F.col("score"))
        return j.select("docId", (s * F.lit(float(node.boost))).alias("score"))

    # ---- multi-term (dictionary expansion) queries ------------------------

    def expand_terms(self, node) -> List[str]:
        """Term-dictionary expansion (reference: automaton over the FST
        dictionary), answered from the engine's term dictionary with no
        Spark job: a prefix is one range of the sorted terms; a
        wildcard or regexp is one anchored full match over them in RE2,
        the DuckDB oracle's ``regexp_full_match`` dialect (a pattern RE2
        rejects raises ValueError); fuzzy is ``_near``. Terms in term
        order, capped at max_expansions — the reference's cap too."""
        self._load_term_df_map()
        if isinstance(node, A.Prefix):
            lo, hi = self._prefix_range(node.value)
            return self._terms[lo:min(hi, lo + node.max_expansions)]
        if isinstance(node, A.Fuzzy):
            terms, _ = self._near(node.value, node.fuzziness, node.prefix_length)
            return terms[:node.max_expansions]
        if isinstance(node, A.Wildcard):
            pat = "".join(".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
                          for ch in node.value)
        elif isinstance(node, A.Regexp):
            pat = node.value
        else:
            raise ValueError(node)
        hit = pc.match_substring_regex(self._term_arr, f"^(?:{pat})$")
        return self._term_arr.filter(hit)[:node.max_expansions].to_pylist()

    def _multi_term(self, node) -> DataFrame:
        self._check_field(node.field_name)
        exp = self.expand_terms(node)
        if not exp:
            return self._empty()
        scorer = _make_exists_scorer(float(node.boost))
        return self._postings_for(exp).groupBy("seg").applyInPandas(scorer, SCORE_SCHEMA)

    def _match_bool_prefix(self, node: A.MatchBoolPrefix) -> DataFrame:
        """match_bool_prefix: OR of the fixed terms + the last term as a
        constant-score prefix (reference: MatchBoolPrefixQueryBuilder)."""
        self._check_field(node.field_name)
        terms = self._tok(node.query)
        if not terms:
            return self._empty()
        fixed, last = terms[:-1], terms[-1]
        clauses: List[A.AnyNode] = []
        if fixed:
            clauses.append(A.Match(field_name=node.field_name, query=" ".join(fixed)))
        clauses.append(
            A.ConstantScore(filter=A.Prefix(field_name=node.field_name, value=last))
        )
        return self._bool(A.Bool(should=clauses, minimum_should_match=1,
                                 boost=node.boost))

    def _phrase_prefix(self, node: A.MatchPhrasePrefix, topk) -> DataFrame:
        """match_phrase_prefix: exact phrase whose LAST position matches any
        dictionary expansion of the prefix. Scored like a phrase with
        idf = sum over the FIXED terms (documented approximation of the
        reference's blended expansion stats)."""
        self._check_field(node.field_name)
        terms = self._tok(node.query)
        if not terms:
            return self._empty()
        fixed, prefix = terms[:-1], terms[-1]
        exp = self.expand_terms(
            A.Prefix(field_name=node.field_name, value=prefix,
                     max_expansions=node.max_expansions)
        )
        if not exp:
            return self._empty()
        if not fixed:
            return self._multi_term(
                A.Prefix(field_name=node.field_name, value=prefix,
                         max_expansions=node.max_expansions, boost=node.boost)
            )
        idf_map = self._idfs(fixed)
        if len(idf_map) < len(set(fixed)):
            return self._empty()
        idf_sum = sum(idf_map[t] for t in fixed)
        scorer = _make_phrase_prefix_scorer(
            fixed, list(exp), idf_sum, self.avgdl, float(node.boost)
        )
        return (
            self._postings_for(fixed + exp)
            .groupBy("seg")
            .applyInPandas(scorer, SCORE_SCHEMA)
        )

    def _mlt(self, node: A.MoreLikeThis) -> DataFrame:
        """more_like_this: top tf*idf terms of the example doc/text -> OR
        match (reference: MoreLikeThisQueryBuilder term selection)."""
        if node.like_text is not None:
            text = node.like_text
        else:
            if self.corpus is None:
                raise ValueError("more_like_this by _id needs an attached corpus")
            rows = self.corpus.where(F.col("docId") == node.like_doc_id).select(
                self.text_field
            ).collect()
            if not rows:
                return self._empty()
            text = rows[0][0] or ""
        toks = self._tok(text)
        if not toks:
            return self._empty()
        tf: Dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        idfs = self._idfs(tf)
        ranked = sorted(
            ((tf[t] * idfs[t], t) for t in idfs), key=lambda x: (-x[0], x[1])
        )
        chosen = [t for _, t in ranked[: node.max_query_terms]]
        if not chosen:
            return self._empty()
        out = self._match(
            A.Match(field_name=node.field_name or self.text_field,
                    query=" ".join(chosen), boost=node.boost),
            topk=None,
        )
        if not node.include and node.like_doc_id is not None:
            out = out.where(F.col("docId") != node.like_doc_id)
        return out

    # ---- leaves ---------------------------------------------------------

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], SCORE_SCHEMA)

    def _check_field(self, name: str) -> None:
        if name not in (self.text_field,):
            raise ValueError(
                f"full-text query on non-indexed field {name!r} (index covers {self.text_field!r})"
            )

    def _load_term_df_map(self) -> Dict[str, int]:
        """The engine's term dictionary (the analog of the reference's
        per-segment term dictionaries, summed over generations): the
        commit's termstats files read once with pyarrow, no Spark job,
        into ``_term_df_map`` (term -> df, returned), ``_term_ttf``,
        their totals ``_n_postings`` and ``_sum_ttf``, and the terms
        sorted (Python's str order is Spark's UTF-8 binary order) as
        ``_terms`` and the Arrow array ``_term_arr``. A listed file that
        is gone raises StaleIndexError."""
        if self._term_df_map is None:  # set last: the rest is loaded
            with self._plan_cache_lock:
                if self._term_df_map is None:
                    t = pa.concat_tables([_TERMSTATS.empty_table()] + _read_index_files(
                        lambda f: pq.read_table(f, columns=_TERMSTATS.names).cast(_TERMSTATS),
                        [self.paths.table("termstats", f)
                         for f in self.globals["files"]["termstats"]]))
                    t = t.group_by("term").aggregate([("df", "sum"), ("ttf", "sum")]
                                                     ).sort_by("term")
                    self._term_arr = t.column("term").combine_chunks()
                    self._terms = self._term_arr.to_pylist()
                    dfs, ttfs = t.column("df_sum").to_pylist(), t.column("ttf_sum").to_pylist()
                    self._term_ttf = dict(zip(self._terms, ttfs))
                    self._n_postings, self._sum_ttf = sum(dfs), sum(ttfs)
                    self._term_df_map = dict(zip(self._terms, dfs))
        return self._term_df_map

    def _prefix_range(self, prefix: str) -> tuple:
        """The [lo, hi) range of the sorted terms that start with
        ``prefix``, found by bisection."""
        self._load_term_df_map()
        lo = bisect.bisect_left(self._terms, prefix)
        return lo, bisect.bisect_right(self._terms, prefix, lo,
                                       key=lambda t: t[:len(prefix)])

    def _near(self, word: str, max_edits: int, prefix_length: int) -> tuple:
        """The dictionary's terms within ``max_edits`` edits of ``word``
        that share its first ``prefix_length`` characters, in term
        order, and their distances: the prefix range, cut to the length
        band ``|len - len(word)| <= max_edits``, then ``_levenshtein``."""
        lo, hi = self._prefix_range(word[:prefix_length])
        terms = self._term_arr[lo:hi]
        band = np.abs(pc.utf8_length(terms).to_numpy() - len(word)) <= max_edits
        terms = terms.filter(pa.array(band)).to_pylist()
        dist = _levenshtein(word, terms)
        keep = dist <= max_edits
        return [t for t, k in zip(terms, keep) if k], dist[keep]

    def _idfs(self, terms: Iterable[str]) -> Dict[str, float]:
        """IDF of each indexed term among ``terms``; others are absent."""
        m = self._load_term_df_map()
        return {t: bm25.idf(m[t], self.doc_count) for t in set(terms) if t in m}

    def _dfs(self, terms: Iterable[str]) -> Dict[str, int]:
        """Document frequency of each indexed term among ``terms``;
        others are absent."""
        m = self._load_term_df_map()
        return {t: m[t] for t in set(terms) if t in m}

    def _cross_fields(self, node: "A.MultiMatch") -> DataFrame:
        raise ValueError(
            "multi_match type=cross_fields needs a MultiFieldEngine "
            "(one index per field)"
        )

    def _combined_fields(self, node: "A.CombinedFields") -> DataFrame:
        raise ValueError(
            "combined_fields needs a MultiFieldEngine (one index per field)"
        )

    def _postings_for(self, terms: Sequence[str]) -> DataFrame:
        return self.postings.where(F.col("term").isin(list(set(terms))))

    def _programs(self, nodes: Sequence[A.AnyNode]) -> tuple:
        """(``msearch.Program`` or None per node, idf of every known
        query term). A node gets a program when it is a match,
        match_phrase, or bool of those on this engine's field; its match
        clauses score with the engine's similarity, if it has one. A
        docs-only index holds no positions: a node with a phrase gets
        no program there (``_phrase_via_source`` answers it)."""
        from opensearch_spark.search import msearch as M

        cand: set = set()
        for n in nodes:
            cand |= M.candidate_terms(n, self._tok)
        idfs = self._idfs(cand)
        contrib = None if self.similarity is None else _similarity_contrib(
            self.similarity, self._dfs(idfs), self.avgdl, self.doc_count)
        no_phrase = self._index_options == "docs"

        def eligible(n: A.AnyNode) -> bool:
            leaves = (n.must + n.filter + n.should + n.must_not
                      if isinstance(n, A.Bool) else [n])
            return all(getattr(c, "field_name", None) == self.text_field
                       and not (no_phrase and isinstance(c, A.MatchPhrase)) for c in leaves)

        progs = [M.build_program(qid, n, set(idfs), self._tok) if eligible(n) else None
                 for qid, n in enumerate(nodes)]
        for p in progs:
            if p is not None:
                p.contrib = contrib
        return progs, idfs

    def _program(self, node: A.AnyNode, topk: Optional[int]) -> Optional[DataFrame]:
        """The node as ONE per-segment program scorer
        (wand.score_program: block-max pruning, one decode, one combine,
        per-segment top-k or every match when ``topk`` is None) — no
        per-clause union and no docId shuffle. None when the node has
        no program (``_programs``)."""
        from opensearch_spark.search import msearch as M

        (prog,), idfs = self._programs([node])
        if prog is None:
            return None
        if prog.match_none or not prog.clauses:
            return self._empty()
        scorer = M.make_msearch_scorer([prog], idfs, self.avgdl, topk)
        return (
            self._postings_for(M.required_terms([prog]))
            .groupBy("seg")
            .applyInPandas(scorer, M.MSEARCH_SCHEMA)
            .select("docId", "score")
        )

    def _match(self, node: A.Match, topk: Optional[int]) -> DataFrame:
        self._check_field(node.field_name)
        terms = self._tok(node.query)
        if not terms:
            if node.zero_terms_query == "all":
                return self.compile(A.MatchAll(boost=node.boost))
            return self._empty()
        return self._program(node, topk)

    def _phrase_via_source(self, node: A.MatchPhrase) -> DataFrame:
        """Phrase over a docs-only (match_only_text) index (reference:
        MatchOnlyTextFieldMapper phrase queries run through
        SourceFieldMatchQuery — candidates from the postings, the phrase
        verified by re-analyzing _source). Candidates = AND-match of the
        phrase terms, scored by the match-only idf sum; the adjacency
        check is a pure Catalyst exists() over the re-tokenized corpus
        column (no positions stored in the index)."""
        if self.corpus is None:
            raise ValueError(
                "phrase on a docs-only index needs an attached corpus "
                "(source re-verification)")
        if str(self.globals.get("analyzer", "standard")) != "standard":
            raise ValueError(
                "source-verified phrases support the standard analyzer")
        terms = self._tok(node.query)
        if not terms:
            return self._empty()
        scores = self._match(
            A.Match(field_name=node.field_name, query=" ".join(terms),
                    operator="and", boost=node.boost), None)
        # shared analyzer token-list expression (ADVICE r4: one helper,
        # no hand-copied variants) — includes the 255-char
        # max_token_length split, so source re-verification sees
        # exactly the index's token stream even for >255-char terms
        from opensearch_spark.analysis.analyzer import spark_sql_tokens_expr

        conj = " AND ".join(
            "element_at(_toks, CAST(i + {j} AS INT)) = '{w}'".format(
                j=j, w=str(w).replace("'", "\\'"))
            for j, w in enumerate(terms))
        k = len(terms)
        # tokenize ONCE per row; the exists() lambda references the
        # projected column (inlining the regexp into every element_at
        # re-tokenizes O(k*n) times — review r4)
        verify = (
            self.corpus.withColumn(
                "_toks", F.expr(spark_sql_tokens_expr(node.field_name)))
            .where(F.expr(
                f"CASE WHEN size(_toks) >= {k} THEN "
                f"exists(sequence(1, size(_toks) - {k - 1}), i -> {conj}) "
                f"ELSE false END"))
            .select("docId")
        )
        return scores.join(verify, "docId")

    def _phrase(self, node: A.MatchPhrase, topk: Optional[int]) -> DataFrame:
        """match_phrase, exact or sloppy (slop > 0: Lucene
        SloppyPhraseMatcher semantics, bm25.sloppy_phrase_freq_in_segment),
        scored BM25 as a pseudo-term; a one-term phrase is a match."""
        self._check_field(node.field_name)
        if self._index_options == "docs":
            if node.slop != 0:
                raise ValueError(
                    "sloppy phrases are not supported on a docs-only "
                    "(match_only_text) index")
            return self._phrase_via_source(node)
        return self._program(node, topk)

    # injectable "now" anchor for date-math bounds (tests / PIT
    # determinism); None = wall clock at evaluation
    now = None

    def _resolve_date_math(self, v):
        """'now', 'now-7d', 'now-1M/d' date-math bounds (reference:
        common/time/DateMathParser.java). Non-date-math values pass
        through untouched."""
        import datetime as _dt

        if not isinstance(v, str) or not v.startswith("now"):
            return v
        m = re.fullmatch(r"now((?:[+-]\d+[smhdwMy])*)(?:/([smhdwMy]))?", v)
        if not m:
            return v
        t = self.now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        for part in re.findall(r"[+-]\d+[smhdwMy]", m.group(1) or ""):
            sign = 1 if part[0] == "+" else -1
            n, u = int(part[1:-1]), part[-1]
            if u == "s":
                t += sign * _dt.timedelta(seconds=n)
            elif u == "m":
                t += sign * _dt.timedelta(minutes=n)
            elif u == "h":
                t += sign * _dt.timedelta(hours=n)
            elif u == "d":
                t += sign * _dt.timedelta(days=n)
            elif u == "w":
                t += sign * _dt.timedelta(weeks=n)
            elif u == "M":
                import calendar as _cal

                mo = t.month - 1 + sign * n
                yy, mm = t.year + mo // 12, mo % 12 + 1
                # clamp to the target month's real last day (reference
                # DateMathParser uses java.time plusMonths semantics:
                # Mar 31 + 1M == Apr 30, not Apr 28)
                t = t.replace(year=yy, month=mm,
                              day=min(t.day, _cal.monthrange(yy, mm)[1]))
            elif u == "y":
                t = t.replace(year=t.year + sign * n)
        r = m.group(2)
        if r == "d":
            t = t.replace(hour=0, minute=0, second=0, microsecond=0)
        elif r == "h":
            t = t.replace(minute=0, second=0, microsecond=0)
        elif r == "m":
            t = t.replace(second=0, microsecond=0)
        elif r == "M":
            t = t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        elif r == "y":
            t = t.replace(month=1, day=1, hour=0, minute=0, second=0,
                          microsecond=0)
        elif r == "w":
            t = (t - _dt.timedelta(days=t.weekday())).replace(
                hour=0, minute=0, second=0, microsecond=0)
        return t

    def _meta_filter(self, node) -> DataFrame:
        if self.corpus is None:
            raise ValueError("term-level query needs an attached corpus")
        c = F.col(node.field_name)
        if isinstance(node, A.TermQ):
            cond = c == F.lit(node.value)
        elif isinstance(node, A.TermsQ):
            values = node.values
            if node.lookup is not None:
                # terms lookup: fetch the source doc's field once at
                # compile time (the reference's coordinator-side GET)
                rows = self.corpus.where(
                    F.col("docId") == int(node.lookup["id"])
                ).select(node.lookup["path"]).collect()
                v = rows[0][0] if rows else None
                values = (list(v) if isinstance(v, (list, tuple))
                          else ([] if v is None else [v]))
                if not values:
                    return self.corpus.where(F.lit(False)).select("docId")
            cond = c.isin(values)
        elif isinstance(node, A.RangeQ):
            cond = F.lit(True)
            gte = self._resolve_date_math(node.gte)
            gt = self._resolve_date_math(node.gt)
            lte = self._resolve_date_math(node.lte)
            lt = self._resolve_date_math(node.lt)
            if gte is not None:
                cond = cond & (c >= F.lit(gte))
            if gt is not None:
                cond = cond & (c > F.lit(gt))
            if lte is not None:
                cond = cond & (c <= F.lit(lte))
            if lt is not None:
                cond = cond & (c < F.lit(lt))
        elif isinstance(node, A.Exists):
            cond = c.isNotNull()
        elif isinstance(node, A.GeoDistanceQ):
            # reference: GeoDistanceQueryBuilder — arc distance <=
            # distance; same haversine codegen expression the geo aggs
            # use (GeoUtils mean radius), no UDF
            from opensearch_spark.search.aggs import _haversine_m

            f = node.field_name
            cond = _haversine_m(
                F.col(f"{f}.lat").cast("double"),
                F.col(f"{f}.lon").cast("double"),
                node.lat, node.lon,
            ) <= F.lit(float(node.distance_m))
        elif isinstance(node, A.GeoPolygonQ):
            # reference: GeoPolygonQueryBuilder — even-odd ray casting.
            # The polygon is a query-time literal, so every edge unrolls
            # to one branch-free crossing test and the whole membership
            # check is a single codegen expression (XOR-fold of edge
            # crossings); no UDF, nothing leaves the JVM.
            f = node.field_name
            plat = F.col(f"{f}.lat").cast("double")
            plon = F.col(f"{f}.lon").cast("double")
            pts = node.points
            inside = F.lit(False)
            for i in range(len(pts)):
                (lat_i, lon_i) = pts[i]
                (lat_j, lon_j) = pts[i - 1]
                if lat_i == lat_j:
                    continue  # horizontal edge never crosses the ray
                crosses = (
                    ((F.lit(lat_i) > plat) != (F.lit(lat_j) > plat))
                    & (plon < (F.lit(lon_j - lon_i) * (plat - F.lit(lat_i))
                               / F.lit(lat_j - lat_i) + F.lit(lon_i)))
                )
                inside = inside != crosses
            cond = plat.isNotNull() & plon.isNotNull() & inside
        elif isinstance(node, A.GeoBoundingBoxQ):
            f = node.field_name
            lat = F.col(f"{f}.lat").cast("double")
            lon = F.col(f"{f}.lon").cast("double")
            if node.left <= node.right:
                lon_cond = (lon >= F.lit(node.left)) & (lon <= F.lit(node.right))
            else:
                # antimeridian wrap (reference GeoBoundingBoxQueryBuilder:
                # left > right means the box crosses the dateline)
                lon_cond = (lon >= F.lit(node.left)) | (lon <= F.lit(node.right))
            cond = (
                (lat <= F.lit(node.top)) & (lat >= F.lit(node.bottom))
                & lon_cond
            )
        else:
            raise ValueError(f"not a meta filter: {node!r}")
        return self.corpus.where(cond).select("docId")

    # ---- compound ---------------------------------------------------------

    def _bool(self, node: A.Bool, topk: Optional[int] = None) -> DataFrame:
        """Bools of match/phrase leaves run as one program
        (``_program``). Any other bool — nested bools, term-level or
        other leaves, pure-negative — unions its compiled clauses and
        aggregates per docId: each clause emits (docId, score, kind,
        cid); the aggregate enforces must-count / must_not-absence /
        minimum_should_match and sums scores."""
        prog = self._program(node, topk)
        if prog is not None:
            return prog
        KIND_MUST, KIND_FILTER, KIND_SHOULD, KIND_NOT = 0, 1, 2, 3
        parts: List[DataFrame] = []

        def tag(df: DataFrame, kind: int, cid: int) -> DataFrame:
            return df.select(
                "docId", "score",
                F.lit(kind).alias("kind"), F.lit(cid).alias("cid"),
            )

        pure_negative = not node.must and not node.filter and not node.should
        if pure_negative:
            # reference adjustPureNegative: implicit match_all, score 1
            parts.append(tag(self.compile(A.MatchAll()), KIND_MUST, 0))
        for i, c in enumerate(node.must):
            parts.append(tag(self.compile(c), KIND_MUST, i))
        for i, c in enumerate(node.filter):
            parts.append(tag(self.compile(c).withColumn("score", F.lit(0.0)), KIND_FILTER, i))
        for i, c in enumerate(node.should):
            parts.append(tag(self.compile(c), KIND_SHOULD, i))
        for i, c in enumerate(node.must_not):
            parts.append(tag(self.compile(c).withColumn("score", F.lit(0.0)), KIND_NOT, i))

        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)

        n_must = len(node.must) + (1 if pure_negative else 0)
        msm = node.effective_msm()
        agg = u.groupBy("docId").agg(
            F.sum(
                F.when(F.col("kind").isin(KIND_MUST, KIND_SHOULD), F.col("score")).otherwise(0.0)
            ).alias("score"),
            F.count(F.when(F.col("kind") == KIND_MUST, 1)).alias("m_cnt"),
            F.count(F.when(F.col("kind") == KIND_FILTER, 1)).alias("f_cnt"),
            F.count(F.when(F.col("kind") == KIND_SHOULD, 1)).alias("s_cnt"),
            F.count(F.when(F.col("kind") == KIND_NOT, 1)).alias("n_cnt"),
        )
        cond = (
            (F.col("m_cnt") == n_must)
            & (F.col("f_cnt") == len(node.filter))
            & (F.col("n_cnt") == 0)
        )
        if node.should:
            cond = cond & (F.col("s_cnt") >= msm)
        out = agg.where(cond).select("docId", "score")
        if node.boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(float(node.boost)))
        return out

    def _dismax(self, node: A.DisMax) -> DataFrame:
        parts = [
            self.compile(q).select("docId", "score", F.lit(i).alias("cid"))
            for i, q in enumerate(node.queries)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tie = float(node.tie_breaker)
        return (
            u.groupBy("docId")
            .agg(F.max("score").alias("best"), F.sum("score").alias("total"))
            .select(
                "docId",
                (
                    (F.col("best") + F.lit(tie) * (F.col("total") - F.col("best")))
                    * F.lit(float(node.boost))
                ).alias("score"),
            )
        )


class MultiFieldEngine(SearchEngine):
    """Search over MULTIPLE indexed text fields — the reference's
    per-field inverted indexes inside one Lucene index (each text field
    has its own postings, df, and norms; ``MultiMatchQuery`` combines
    per-field scores). Spark shape: one index directory per field, each
    with its own postings/termstats/globals; leaf full-text nodes route
    to the engine owning their field, compound nodes (bool / dis_max /
    multi_match) combine the per-field score frames.

    ``index_dirs``: {field_name: index_dir}; the FIRST entry is the
    primary field (used for match_all / ids / default analysis)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dirs: "Dict[str, str]",
        corpus: DataFrame | None = None,
        id_cols: Sequence[str] = ("repo", "path", "commit"),
        doc_id_col: str | None = None,
        cache: bool = False,
    ):
        fields = list(index_dirs)
        super().__init__(
            spark, index_dirs[fields[0]], corpus=corpus,
            text_field=fields[0], id_cols=id_cols,
            doc_id_col=doc_id_col, cache=cache,
        )
        self.sub: Dict[str, SearchEngine] = {fields[0]: self}
        for f in fields[1:]:
            self.sub[f] = SearchEngine(
                spark, index_dirs[f], corpus=corpus, text_field=f,
                id_cols=id_cols, doc_id_col=doc_id_col, cache=cache,
            )

    def close(self) -> None:
        for eng in self.sub.values():
            if eng is not self:
                eng.close()
        super().close()

    def _check_field(self, name: str) -> None:
        if name not in self.sub:
            raise ValueError(
                f"full-text query on non-indexed field {name!r} "
                f"(indexed fields: {sorted(self.sub)})"
            )

    def compile(self, node: A.AnyNode, topk: Optional[int] = None) -> DataFrame:
        fld = getattr(node, "field_name", None)
        if fld and fld in self.sub and self.sub[fld] is not self:
            return self.sub[fld].compile(node, topk)
        if fld:
            self._check_field(fld)
        return super().compile(node, topk)

    # ---- blended multi-field scoring ----------------------------------

    def _cross_fields(self, node: "A.MultiMatch") -> DataFrame:
        """multi_match type=cross_fields (reference: MultiMatchQuery.java
        cross-fields / Lucene BlendedTermQuery): term-centric scoring —
        per term the document frequency is BLENDED across fields
        (df_blend = max_f df_f), each field scores the term with the
        blended idf but its own tf/norms/avgdl, and the per-term doc
        score is the best field's (+ tie_breaker * remainder). Doc score
        sums the per-term scores; operator/minimum_should_match count
        terms matched in ANY field.

        Spark shape: one (docId, term, score) frame per field (per-
        segment applyInPandas), then groupBy(docId, term) -> blend ->
        groupBy(docId) -> sum. Two narrow shuffles over matching docs
        only."""
        terms = self._tok(node.query)
        if not terms:
            return self._empty()
        for f in node.fields:
            self._check_field(f)
        boosts = node.field_boosts or [1.0] * len(node.fields)
        uniq = sorted(set(terms))
        dfs = {f: self.sub[f]._dfs(uniq) for f in node.fields}
        df_blend = {t: max(dfs[f].get(t, 0) for f in node.fields) for t in uniq}
        known = [t for t in uniq if df_blend[t] > 0]
        if not known:
            return self._empty()
        if node.operator == "and" and len(known) < len(uniq):
            return self._empty()
        idf_blend = {t: bm25.idf(df_blend[t], self.doc_count) for t in known}
        parts: List[DataFrame] = []
        for f, w in zip(node.fields, boosts):
            eng = self.sub[f]
            present = [t for t in known if dfs[f].get(t, 0) > 0]
            if not present:
                continue
            scorer = _make_term_score_scorer(
                {t: idf_blend[t] for t in present}, eng.avgdl, float(w)
            )
            parts.append(
                eng._postings_for(present)
                .groupBy("seg")
                .applyInPandas(scorer, TERM_SCORE_SCHEMA)
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tie = float(node.tie_breaker)
        per_term = u.groupBy("docId", "term").agg(
            F.max("score").alias("_best"), F.sum("score").alias("_tot")
        )
        tscore = F.col("_best") + F.lit(tie) * (F.col("_tot") - F.col("_best"))
        agg = per_term.groupBy("docId").agg(
            F.sum(tscore).alias("score"),
            F.countDistinct("term").alias("_nt"),
        )
        if node.operator == "and":
            agg = agg.where(F.col("_nt") == len(known))
        elif node.minimum_should_match > 1:
            agg = agg.where(F.col("_nt") >= node.minimum_should_match)
        out = agg.select("docId", "score")
        if node.boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(float(node.boost)))
        return out

    def _combined_dl(self, fields: tuple, boosts: tuple):
        """Combined doc length dl_c = sum_f w_f * dl_f (exact lengths)
        plus (N_c, avgdl_c) over docs with dl_c > 0. The two scalars are
        collected once per (fields, boosts) signature and cached."""
        cur = None
        exprs = []
        for i, (f, w) in enumerate(zip(fields, boosts)):
            d = self.sub[f].docstats.select(
                "docId",
                (F.col("dl").cast("double") * F.lit(float(w))).alias(f"_dl{i}"),
            )
            cur = d if cur is None else cur.join(d, "docId", "full_outer")
            exprs.append(F.coalesce(F.col(f"_dl{i}"), F.lit(0.0)))
        dl = exprs[0]
        for e in exprs[1:]:
            dl = dl + e
        dlc = cur.select("docId", dl.alias("_dlc")).where(F.col("_dlc") > 0)
        key = (fields, boosts)
        if not hasattr(self, "_cf_stats"):
            self._cf_stats: Dict[tuple, tuple] = {}
        if key not in self._cf_stats:
            row = dlc.agg(
                F.count(F.lit(1)).alias("n"), F.avg("_dlc").alias("avgdl")
            ).collect()[0]
            self._cf_stats[key] = (int(row["n"]), float(row["avgdl"]))
        return dlc, self._cf_stats[key]

    def _combined_fields(self, node: "A.CombinedFields") -> DataFrame:
        """combined_fields (reference: CombinedFieldsQueryBuilder.java:48 /
        Lucene CombinedFieldQuery, BM25F): fields merge into one
        synthetic field — tf_c = sum_f w_f*tf_f, dl_c = sum_f w_f*dl_f,
        df_c = |docs containing t in any field| — then standard BM25.
        Documented divergence: dl_c uses exact lengths (no norm
        re-quantization).

        Spark shape: per-field (docId, term, w*tf) frames -> one
        groupBy(docId, term) sum -> join combined dl -> score in pure
        Catalyst; df_c comes from a tiny per-term countDistinct."""
        terms = self._tok(node.query)
        if not terms:
            return self._empty()
        for f in node.fields:
            self._check_field(f)
        boosts = node.field_boosts or [1.0] * len(node.fields)
        uniq = sorted(set(terms))
        parts: List[DataFrame] = []
        for f, w in zip(node.fields, boosts):
            eng = self.sub[f]
            scorer = _make_tf_scorer(float(w))
            parts.append(
                eng._postings_for(uniq)
                .groupBy("seg")
                .applyInPandas(scorer, TERM_TF_SCHEMA)
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tfc = u.groupBy("docId", "term").agg(F.sum("wtf").alias("_tfc"))
        dlc, (n_c, avgdl_c) = self._combined_dl(tuple(node.fields), tuple(boosts))
        dfc = {
            r["term"]: int(r["df"])
            for r in tfc.groupBy("term")
            .agg(F.countDistinct("docId").alias("df"))
            .collect()
        }
        known = [t for t in uniq if dfc.get(t, 0) > 0]
        if not known:
            return self._empty()
        if node.operator == "and" and len(known) < len(uniq):
            return self._empty()
        idf_df = self.spark.createDataFrame(
            [(t, bm25.idf(dfc[t], n_c)) for t in known], "term string, _idf double"
        )
        j = (
            tfc.join(F.broadcast(idf_df), "term")
            .join(dlc, "docId")
        )
        per_term = (
            F.col("_idf") * F.lit(bm25.K1 + 1.0) * F.col("_tfc")
            / (
                F.col("_tfc")
                + F.lit(bm25.K1)
                * (
                    F.lit(1.0 - bm25.B)
                    + F.lit(bm25.B) * F.col("_dlc") / F.lit(avgdl_c)
                )
            )
        )
        agg = j.groupBy("docId").agg(
            F.sum(per_term).alias("score"),
            F.countDistinct("term").alias("_nt"),
        )
        if node.operator == "and":
            agg = agg.where(F.col("_nt") == len(known))
        elif node.minimum_should_match > 1:
            agg = agg.where(F.col("_nt") >= node.minimum_should_match)
        out = agg.select("docId", "score")
        if node.boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(float(node.boost)))
        return out
