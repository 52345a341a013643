"""Hybrid (lexical + vector) search: per-sub-query score normalization
and weighted combination, plus a brute-force kNN scorer over an
embedding table.

The reference core repo ships the *hook* this feature plugs into — the
search-pipeline phase-results processor
(server/src/main/java/org/opensearch/search/pipeline/
SearchPhaseResultsProcessor.java); the hybrid query + normalization
processor themselves live in the separately-released neural-search
plugin. This module provides the same user-facing capability
Spark-first, with the exact conventions documented here (deterministic,
oracle-checkable):

- Each sub-query yields a scored frame ``(docId, score)``; scores are
  normalized per sub-query over its own retrieved set, then combined
  per doc across sub-queries.
- ``min_max``: ``(s - min) / (max - min)``; a degenerate set
  (``max == min``) normalizes to 1.0. Affine-invariant, so it is
  indifferent to the k-NN plugin's ``(1 + cosine) / 2`` score transform
  — we keep raw cosine.
- ``l2``: ``s / sqrt(sum(s^2))`` over the retrieved set; an all-zero
  set stays 0.
- ``arithmetic_mean``: ``sum(w_i * n_i) / sum(w_i)`` over ALL
  sub-queries — a doc missing from a sub-query contributes 0 for it
  (its weight stays in the denominator).
- ``geometric_mean`` / ``harmonic_mean``: over the sub-queries where
  the doc has a normalized score > 0 (both are undefined at 0); a doc
  with no positive scores combines to 0.

Scale shape: the per-sub-query stats are a partial-aggregated reduce to
``n_subqueries`` rows, broadcast back; the combine is ONE shuffle on
docId. Nothing quadratic, nothing driver-side beyond the stats rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

NORMALIZATIONS = ("min_max", "l2")
COMBINATIONS = ("arithmetic_mean", "geometric_mean", "harmonic_mean")


def knn_scores(
    emb: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 5,
) -> DataFrame:
    """Brute-force cosine kNN: top-``k`` rows of ``emb`` by cosine
    similarity to ``query_vector``.

    Returns ``(docId, score)`` with ``score = round(cosine, round_dp)``
    and the deterministic cut ``ORDER BY score DESC, id ASC LIMIT k``
    (rounding before the cut makes the boundary engine-portable; ties on
    the rounded score break on id — the shard-merge tie rule). The plan
    is a map-only scan + TakeOrderedAndProject; for repeated queries at
    scale route through the IVF/LSH candidate paths in
    ``pipelines.similarity`` instead.
    """
    from opensearch_spark.pipelines.similarity import _as_double, _pair_cosine

    qv = F.array(*[F.lit(float(x)).cast("double") for x in query_vector])
    scored = emb.select(
        F.col(id_col).alias("docId"),
        F.round(_pair_cosine(_as_double(vec_col), qv), round_dp).alias("score"),
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("docId").asc())
        .limit(int(k))
    )


def _weight_col(weights: Sequence[float]):
    return F.element_at(
        F.array(*[F.lit(float(w)).cast("double") for w in weights]),
        F.col("qid") + 1,
    )


def combine_scores(
    scored: Sequence[DataFrame],
    weights: Optional[Sequence[float]] = None,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
) -> DataFrame:
    """Normalize each sub-query's ``(docId, score)`` frame and combine
    into one ``(docId, score)`` frame per the module conventions. The
    result is computed before returning (an eager local checkpoint), so
    no cached data outlives the call."""
    if normalization not in NORMALIZATIONS:
        raise ValueError(f"unknown normalization {normalization!r}")
    if combination not in COMBINATIONS:
        raise ValueError(f"unknown combination {combination!r}")
    n = len(scored)
    if n == 0:
        raise ValueError("combine_scores needs at least one sub-query")
    if weights is None:
        weights = [1.0] * n
    if len(weights) != n:
        raise ValueError(f"{n} sub-queries but {len(weights)} weights")
    if any(w < 0 for w in weights):
        raise ValueError("weights must be non-negative")
    total_w = float(sum(weights))
    if total_w == 0:
        raise ValueError("at least one weight must be positive")

    tagged = None
    for i, df in enumerate(scored):
        t = df.select(
            F.col("docId").cast("long").alias("docId"),
            F.col("score").cast("double").alias("score"),
            F.lit(i).alias("qid"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)

    # The retrieved set is traversed twice (stats reduce + normalize
    # join); without a persist every sub-query's full retrieval plan
    # executes twice. The persist lives only for this call: the combined
    # frame is materialized (eager local checkpoint), then released.
    tagged = tagged.persist()
    try:
        return _combine(tagged, weights, total_w, normalization,
                        combination).localCheckpoint(eager=True)
    finally:
        tagged.unpersist()


def _combine(tagged: DataFrame, weights: Sequence[float], total_w: float,
             normalization: str, combination: str) -> DataFrame:
    stats = tagged.groupBy("qid").agg(
        F.min("score").alias("mn"),
        F.max("score").alias("mx"),
        F.sum(F.col("score") * F.col("score")).alias("ss"),
    )
    joined = tagged.join(F.broadcast(stats), "qid")
    if normalization == "min_max":
        norm = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
            (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
        )
    else:  # l2
        norm = F.when(F.col("ss") == 0.0, F.lit(0.0)).otherwise(
            F.col("score") / F.sqrt(F.col("ss"))
        )
    w = _weight_col(weights)
    nrm = joined.select("docId", "qid", norm.alias("nscore"), w.alias("w"))

    if combination == "arithmetic_mean":
        combined = F.sum(F.col("w") * F.col("nscore")) / F.lit(total_w)
    elif combination == "geometric_mean":
        # pos_w is NULL when no nscore is positive, and 0.0 (non-null!)
        # when every positive-scored sub-query carries weight 0 — both
        # must short-circuit to 0.0 or the division aborts the job
        # under ANSI mode.
        pos_w = F.sum(F.when(F.col("nscore") > 0, F.col("w")))
        combined = F.when(
            pos_w.isNull() | (pos_w == 0.0), F.lit(0.0)
        ).otherwise(
            F.exp(
                F.sum(
                    F.when(F.col("nscore") > 0,
                           F.col("w") * F.log(F.col("nscore")))
                ) / pos_w
            )
        )
    else:  # harmonic_mean
        pos_w = F.sum(F.when(F.col("nscore") > 0, F.col("w")))
        combined = F.when(
            pos_w.isNull() | (pos_w == 0.0), F.lit(0.0)
        ).otherwise(
            pos_w / F.sum(
                F.when(F.col("nscore") > 0, F.col("w") / F.col("nscore"))
            )
        )
    return nrm.groupBy("docId").agg(combined.alias("score"))


def hybrid_search(
    engine,
    queries: Sequence[dict],
    knn: Optional[dict] = None,
    emb: Optional[DataFrame] = None,
    weights: Optional[Sequence[float]] = None,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    size: Optional[int] = None,
) -> DataFrame:
    """Run a hybrid query against a :class:`SearchEngine`.

    ``queries`` are query-DSL dicts compiled by the engine (the lexical
    sub-queries; their raw BM25 scores are rounded to 4 decimals so the
    normalized combination is engine-portable). ``knn`` is an optional
    ``{"query_vector": [...], "k": int, "field": ..., "id_col": ...}``
    sub-query over ``emb`` (an embedding table whose id column is the
    engine's doc id), appended AFTER the lexical sub-queries —
    ``weights`` must cover the full ordered list.
    """
    from opensearch_spark.search import dsl as dsl_mod

    scored = []
    for body in queries:
        df = engine.compile(dsl_mod.parse(body))
        scored.append(
            df.select("docId", F.round("score", 4).alias("score"))
        )
    if knn is not None:
        if emb is None:
            raise ValueError("knn sub-query needs an embedding frame")
        scored.append(
            knn_scores(
                emb,
                knn["query_vector"],
                k=knn.get("k", 10),
                id_col=knn.get("id_col", "vec_id"),
                vec_col=knn.get("field", "embedding"),
            )
        )
    out = combine_scores(
        scored, weights=weights, normalization=normalization,
        combination=combination,
    )
    if size is not None:
        out = out.orderBy(
            F.col("score").desc(), F.col("docId").asc()
        ).limit(int(size))
    return out
