"""_reindex (reference: the `reindex` module, ``TransportReindexAction`` /
``Reindexer.java``): copy documents from a source index into a new one,
optionally filtered by a query and transformed by a script/pipeline.

Spark shape: the source engine's corpus IS the source scroll (one
columnar scan, no point-in-time drift — parquet is immutable); the query
filter is a semi-join against the compiled match set; the transform hook
is any DataFrame -> DataFrame function (compose with
``pipelines.ingest`` processors for the script-processor analog); the
destination build is the normal zero-shuffle segment build.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.index.build import build_index


def reindex(
    spark: SparkSession,
    source_engine,
    dest_dir: str,
    query: Optional[dict] = None,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    text_col: Optional[str] = None,
    doc_id_col: str = "docId",
    n_segments: Optional[int] = None,
    **build_kwargs,
):
    """Returns the destination IndexPaths. ``query`` keeps only matching
    docs (tombstones respected); ``transform`` runs before indexing."""
    if source_engine.corpus is None:
        raise ValueError("reindex needs a source engine with an attached corpus")
    docs = source_engine.corpus
    if query is not None:
        from opensearch_spark.search import dsl as dsl_mod

        matched = source_engine.compile(dsl_mod.parse(query)).select("docId")
        docs = docs.join(matched, "docId", "left_semi")
    elif source_engine.deletes is not None:
        docs = docs.join(source_engine.deletes, "docId", "left_anti")
    if transform is not None:
        docs = transform(docs)
    if n_segments is None:
        n_segments = int(source_engine.globals.get("n_segments", 8))
    return build_index(
        spark, docs, dest_dir,
        text_col=text_col or source_engine.text_field,
        doc_id_col=doc_id_col,
        n_segments=n_segments,
        **build_kwargs,
    )


def update_by_query(
    spark: SparkSession,
    engine,
    index_dir: str,
    query: dict,
    script: "dict[str, str] | Callable[[DataFrame], DataFrame]",
    text_col: Optional[str] = None,
) -> dict:
    """`_update_by_query` (reference: the reindex module's
    UpdateByQueryAction / TransportUpdateByQueryAction): rewrite every
    document matching ``query`` in place.

    ``script``: {column: SQL expression} applied with ``withColumn``
    (pure Catalyst), a Painless script spec ``{"lang": "painless",
    "source": "ctx._source.f = ...", "params": {...}}`` transpiled by
    ``search.painless.painless_update_to_sql`` to the same column map
    (so the reference's update scripts run verbatim), or a
    DataFrame -> DataFrame callable. Implementation = the reference's
    own decomposition: snapshot the matched docs, transform, then
    delete+add via ``upsert_batch`` (Lucene updates are delete + re-add
    into a new segment too).

    Returns ``{"updated": n, "noops": n, "deleted": n, "corpus":
    DataFrame}`` — noops/deleted are nonzero only for painless scripts
    using ``ctx.op`` — where ``corpus`` is
    the post-update corpus view (untouched docs ∪ rewritten docs) —
    reopen with ``SearchEngine(spark, index_dir, corpus=result
    ["corpus"], doc_id_col="docId", ...)`` so fetch/filter/agg results
    agree with the rewritten index. Like every index mutation here,
    readers opening after the call see the update; the PASSED-IN engine
    keeps its own commit, whose files the upsert's compaction deletes.

    Scale shape: one semi-join scan to select, one transform projection,
    then the upsert path (tombstone write + compaction + incremental
    add) — no driver-side row loops anywhere."""
    from opensearch_spark.index.incremental import add_tombstones, upsert_batch
    from opensearch_spark.index.manifest import IndexPaths, append
    from opensearch_spark.search import dsl as dsl_mod

    if engine.corpus is None:
        raise ValueError("update_by_query needs an attached corpus")
    matched = engine.compile(dsl_mod.parse(query)).select("docId")
    docs = engine.corpus.join(matched, "docId", "left_semi")
    untouched = engine.corpus.join(matched, "docId", "left_anti")
    # materialize the snapshots BEFORE mutating the index: their lineage
    # reads the postings files that upsert's compaction is about to
    # delete (the reference snapshots with a scroll for the same reason)
    docs = docs.localCheckpoint(eager=True)
    untouched = untouched.localCheckpoint(eager=True)
    n = docs.count()
    n_noop = n_del = 0
    noops = del_ids = None
    if n == 0:
        return {"updated": 0, "noops": 0, "deleted": 0,
                "corpus": engine.corpus}
    if callable(script):
        docs = script(docs)
        # the transform must REWRITE rows, not drop them: a dropped doc
        # would be neither tombstoned nor re-added — still searchable in
        # the index yet missing from the returned corpus (use
        # delete_by_query to remove docs)
        if docs.count() != n:
            raise ValueError(
                "update_by_query script must preserve row count; "
                "use delete_by_query to remove documents"
            )
    elif str(script.get("lang", "")).lower() == "painless":
        from opensearch_spark.search.painless import (
            CTX_OP_FIELD,
            painless_update_to_sql,
        )

        colmap = painless_update_to_sql(
            str(script["source"]), script.get("params") or {})
        op_sql = colmap.pop(CTX_OP_FIELD, None)
        # ONE projection with every expression bound to the ORIGINAL
        # row: the transpiler already inlined intermediate ctx._source
        # reads into each field's final expression (over pre-update
        # columns), so sequential withColumn would apply an earlier
        # field's update twice when a later expression references it
        # (review r5 finding)
        exprs = [
            (F.expr(str(colmap[c])).alias(c) if c in colmap else F.col(c))
            for c in docs.columns
        ]
        exprs += [F.expr(str(v)).alias(c) for c, v in colmap.items()
                  if c not in docs.columns]
        if op_sql is not None:
            # ctx.op routing (reference: scripted update_by_query's
            # per-row verdict): 'index' rows take the transform,
            # 'noop' rows keep their ORIGINAL values and are not
            # re-indexed, 'delete' rows are tombstoned. ONE aggregation
            # job yields the three counts AND surfaces invalid/NULL
            # verdicts (review r5: per-route counts were 5 jobs, and a
            # NULL verdict slipped past isin() into no route at all)
            verdicts = docs.select(
                "docId", F.expr(str(op_sql)).alias("_op")
            ).localCheckpoint(eager=True)
            counts = {r["_op"]: int(r["count"])
                      for r in verdicts.groupBy("_op").count().collect()}
            bad = [k for k in counts
                   if k not in ("index", "noop", "delete")]
            if bad:
                raise ValueError(
                    f"update_by_query script set ctx.op = {bad[0]!r}; "
                    "must be index, noop or delete")
            n = counts.get("index", 0)
            n_noop = counts.get("noop", 0)
            n_del = counts.get("delete", 0)
            keep = verdicts.where(F.col("_op") == "index").select("docId")
            noops = docs.join(
                verdicts.where(F.col("_op") == "noop").select("docId"),
                "docId", "left_semi")
            del_ids = verdicts.where(
                F.col("_op") == "delete").select("docId")
            docs = docs.join(keep, "docId", "left_semi").select(*exprs)
        else:
            docs = docs.select(*exprs)
    else:
        # raw {column: SQL} form: applied sequentially as documented
        # (a later expression sees earlier updates)
        for col, expr in script.items():
            docs = docs.withColumn(col, F.expr(str(expr)))
    # ---- shared tail (all script forms, with or without ctx.op) ------
    # the engine's corpus always carries the derived docId column — it
    # IS the document identity, so the upsert re-keys on it directly
    if n:
        upsert_batch(
            spark, docs, index_dir,
            text_col=text_col or engine.text_field, doc_id_col="docId",
        )
    if n_del:
        # distributed tombstone write (the delete_by_query path), AFTER
        # the upsert so its compaction cannot purge these fresh
        # tombstones
        paths = IndexPaths(index_dir)
        add_tombstones(paths, append(del_ids, paths, "deletes"))
    # allowMissingColumns: a script may ADD a source field (ctx._source
    # mutation of a new name, or a new raw column) — untouched docs get
    # NULL for it, matching the reference's sparse-source semantics
    # (review r5: plain unionByName raised AFTER the index was mutated)
    corpus = untouched
    if noops is not None:
        corpus = corpus.unionByName(noops, allowMissingColumns=True)
    corpus = corpus.unionByName(docs, allowMissingColumns=True)
    return {"updated": int(n), "noops": int(n_noop),
            "deleted": int(n_del), "corpus": corpus}
