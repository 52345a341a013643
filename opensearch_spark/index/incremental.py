"""Incremental index maintenance: append a batch of new docs (the NRT
refresh analog), compact generations (the TieredMergePolicy analog) and
upsert by id.

Reference behavior (SURVEY.md §2.9, §3.2): writes create new immutable
segments, visible after refresh; background merges fold small segments
into larger ones. Spark-first mapping — every function here writes only
new files and then publishes ONE manifest (index/manifest.py), so a
reader sees either the whole write or none of it:

- ``add_batch`` refuses docIds the index already holds (live or
  tombstoned) or that repeat within the batch, then runs the build's
  one writer (``build.write_segments``) over only the new docs, routed
  ``seg = pmod(docId, n_segments)`` with the manifest's analyzer and
  index_options. It APPENDS posting blocks
  (a new "generation" of blocks whose doc ranges overlap older ones —
  scorers merge-sort at decode, codec.merge_generations), docstats files
  and the generation's termstats rows; the manifest adds them and the
  writer's counts (doc counts, avgdl). Stored block bounds are (max_tf,
  min_dl_q), avgdl-independent, so older blocks stay valid.
- ``compact_index`` rewrites each (seg, term) posting list as one sorted
  single-generation block run — decode -> merge -> repack, no
  re-tokenization (the merge reads index bytes only, like Lucene segment
  merges). termstats is recomputed from the compacted postings metadata;
  tombstoned docs are dropped. The replaced files are deleted after the
  publish unless a PIT retains them.
- ``upsert_batch`` is the versioned-upsert analog (reference:
  index/VersionType.java / index-API overwrite): tombstone every
  incoming docId, compact them away, then append the new versions —
  all in one commit.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.index import codec
from opensearch_spark.index.build import (
    POSTINGS_SCHEMA, _pack_partition, by_seg, prepare, term_stats, write_segments,
)
from opensearch_spark.index.manifest import (
    IndexPaths, append, publish, read_manifest, read_table, with_files,
)

OCC_SCHEMA = "docId long, seg int, norm_byte int, pos int, term string"


def _add(spark: SparkSession, batch: DataFrame, paths: IndexPaths,
         manifest: dict, text_col: str, id_cols: Sequence[str],
         doc_id_col: str | None) -> dict:
    """The add_batch write against ``manifest``; returns the manifest to
    publish."""
    m = write_segments(by_seg(prepare(batch, text_col, id_cols, doc_id_col),
                              manifest["n_segments"]), paths, manifest)
    new = m["files"]["postings"][len(manifest["files"]["postings"]):]
    # per-generation term stats delta from the batch's own posting files
    termstats = m["files"]["termstats"] + (append(term_stats(read_table(
        spark, paths, "postings", new)), paths, "termstats") if new else [])
    m = with_files(m, termstats=termstats)
    m["generations"] += 1
    return m


def add_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "content",
    id_cols: Sequence[str] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
) -> dict:
    """Append one batch of new documents to an existing index. Returns the
    published manifest. Visibility: readers opening the index after
    this returns see the new docs (the refresh analog).

    Create-only (reference: ``op_type=create``'s version conflict): a
    batch holding a docId the index already has — live or tombstoned —
    or one docId twice is refused with ValueError before anything is
    written; ``upsert_batch`` replaces documents. Every docId therefore
    lives in exactly one segment, which the driver tier's one-table
    scoring relies on."""
    paths = IndexPaths(index_dir)
    m = read_manifest(index_dir)
    # tombstoned docs keep their docstats row until compaction
    repeats, indexed = _create_only(
        prepare(batch, text_col, id_cols, doc_id_col).select("docId"),
        read_table(spark, paths, "docstats", m["files"]["docstats"]))
    # both refusals in one query: the smallest refused docId (one
    # TakeOrderedAndProject; a limit alone would take partitions in rounds)
    dup = (repeats.unionByName(indexed.withColumn("count", F.lit(None).cast("long")))
           .orderBy("docId").limit(1).collect())
    if dup:
        d, n = dup[0]
        raise ValueError(
            f"add_batch: docId {d} occurs "
            f"{n or 1 + indexed.where(F.col('docId') == d).count()} times "
            "among the batch and the indexed documents (live or deleted); "
            "add_batch only creates documents — use upsert_batch to replace them")
    return publish(paths, _add(spark, batch, paths, m, text_col, id_cols,
                               doc_id_col))


def _create_only(batch_ids: DataFrame, docstats: DataFrame) -> tuple:
    """``add_batch``'s refusals as frames: (docIds repeated within the
    batch with their ``count``, a groupBy over the batch ids alone;
    docstats docIds the batch holds, a left-semi join against the
    broadcast batch ids). Neither shuffles the index's docstats, so the
    check costs what the batch costs, not what the index holds."""
    return (batch_ids.groupBy("docId").count().where(F.col("count") > 1),
            docstats.select("docId").join(F.broadcast(batch_ids), "docId", "left_semi"))


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "content",
    id_cols: Sequence[str] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
) -> dict:
    """MERGE-style upsert by docId (reference: the index API's
    overwrite-by-id path, ``index/VersionType.java`` — Lucene implements
    an update as delete + add into a new segment, with per-segment
    liveDocs keeping the new copy alive). Our tombstones are global
    docId sets (no per-segment scoping), so the delete must be made
    PHYSICAL before the re-add: tombstone the incoming ids (distributed
    write), purge them by compaction (the merge drops dead docs), then
    append the new versions, and publish all three as one commit.
    Readers opening after it returns see exactly the new versions; the
    compaction cost is the price of global tombstones and amortizes
    when upserts are batched (the reference pays the same cost in merge
    debt). Its add skips ``add_batch``'s refusal of indexed docIds: the
    compaction has just removed them."""
    paths = IndexPaths(index_dir)
    ids = prepare(batch, text_col, id_cols, doc_id_col).select("docId")
    m = read_manifest(index_dir)
    m = with_files(m, deletes=m["files"]["deletes"] + append(
        ids.distinct(), paths, "deletes"))
    m = _compact(spark, paths, m, None)
    return publish(paths, _add(spark, batch, paths, m, text_col, id_cols,
                               doc_id_col))


def add_tombstones(paths: IndexPaths, names: Sequence[str]) -> dict:
    """Publish the latest commit with the tombstone files ``names``
    (already written to ``deletes/``, e.g. by ``append``) added."""
    m = read_manifest(paths.root)
    return publish(paths, with_files(
        m, deletes=m["files"]["deletes"] + list(names)))


def _unpack_partition():
    """mapInArrow fn: posting-block rows -> per-occurrence rows (decode
    side of the merge; inverse of _pack_partition).

    Every block's byte stream is CONTIGUOUS in the Arrow values buffer,
    so the whole batch goes through ``codec.decode_blocks`` as three
    joined streams. Term strings are gathered with Arrow ``take`` — no
    per-block Python loop and no Python string objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _values(col) -> bytes:
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        off = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=len(arr) + 1 + arr.offset)[arr.offset:]
        data = arr.buffers()[2]
        return bytes(memoryview(data)[off[0]:off[-1]])

    def unpack(batches):
        for b in batches:
            t = pa.Table.from_batches([b]).combine_chunks()
            if t.num_rows == 0:
                continue
            n_docs = t.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64)
            seg = t.column("seg").to_numpy(zero_copy_only=False).astype(np.int64)
            term = t.column("term").combine_chunks() if isinstance(
                t.column("term"), pa.ChunkedArray) else t.column("term")
            docs, tfs, norms, pos = codec.decode_blocks(
                n_docs, *(_values(t.column(c)) for c in
                          ("doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes")))
            occ_per_block = np.add.reduceat(tfs, np.cumsum(n_docs) - n_docs)
            term_idx = np.repeat(np.arange(len(t), dtype=np.int64), occ_per_block)

            yield pa.record_batch(
                [
                    pa.array(np.repeat(docs, tfs), pa.int64()),
                    pa.array(np.repeat(np.repeat(seg, n_docs), tfs).astype(np.int32), pa.int32()),
                    pa.array(np.repeat(norms.astype(np.int32), tfs), pa.int32()),
                    pa.array(pos.astype(np.int32), pa.int32()),
                    pc.take(term, pa.array(term_idx)),
                ],
                names=["docId", "seg", "norm_byte", "pos", "term"],
            )

    return unpack


def compact_index(spark: SparkSession, index_dir: str,
                  target_segments: int | None = None) -> dict:
    """Fold all generations into one: rewrite postings as single sorted
    block runs per (seg, term) without the tombstoned docs; recompute
    termstats from the compacted metadata. Returns the published
    manifest; readers opening after it see the compacted index.

    ``target_segments``: also MERGE segments down to this count
    (seg -> seg % target) — the TieredMergePolicy analog
    (``index/TieredMergePolicyProvider.java:216-237``): builds want many
    small segments (task granularity), serving wants few big ones
    (per-query per-segment overhead); background merges reconcile the
    two. Queries regroup by the new seg ids transparently."""
    paths = IndexPaths(index_dir)
    return publish(paths, _compact(spark, paths, read_manifest(index_dir),
                                   target_segments))


def _compact(spark: SparkSession, paths: IndexPaths, manifest: dict,
             target_segments: int | None) -> dict:
    """The compaction write against ``manifest``; returns the manifest
    to publish."""
    files = manifest["files"]
    m = dict(manifest)
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # soft-delete purge (Lucene: merges drop deleted docs and reclaim
    # space): tombstoned docIds are filtered out of the occurrence
    # stream before re-packing, then docstats and counts are rewritten
    del_df = (read_table(spark, paths, "deletes", files["deletes"])
              .distinct() if files["deletes"] else None)

    def remap(df: DataFrame) -> DataFrame:
        if del_df is not None:
            df = df.join(F.broadcast(del_df), "docId", "left_anti")
        if target_segments is None:
            return df
        return df.withColumn(
            "seg", F.pmod(F.col("seg"), F.lit(int(target_segments))).cast("int"))

    occ = remap(read_table(spark, paths, "postings", files["postings"])
                .mapInArrow(_unpack_partition(), schema=OCC_SCHEMA))
    postings = append(
        occ.repartition(nshuf, "seg", "term")
        .mapInArrow(_pack_partition(int(m["block_size"])), schema=POSTINGS_SCHEMA)
        .sortWithinPartitions("term", "block_no"),
        paths, "postings")
    # termstats: one row per term again, from compacted metadata
    termstats = append(term_stats(read_table(spark, paths, "postings", postings)),
                       paths, "termstats")
    docstats = files["docstats"]
    if del_df is not None or target_segments is not None:
        docstats = append(
            remap(read_table(spark, paths, "docstats", docstats)), paths, "docstats")
    if del_df is not None:
        g = (
            read_table(spark, paths, "docstats", docstats)
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("fdc"),
                F.sum("dl").alias("sum_ttf"),
            )
            .collect()[0]
        )
        m.update(
            doc_count=int(g["doc_count"]),
            field_doc_count=int(g["fdc"] or 0),
            sum_ttf=int(g["sum_ttf"] or 0),
            avgdl=float(int(g["sum_ttf"] or 0) / (int(g["fdc"] or 0) or 1)),
        )
    if target_segments is not None:
        m["n_segments"] = int(target_segments)
    m["generations"] = 1
    return with_files(m, postings=postings, termstats=termstats,
                      docstats=docstats, deletes=[])
