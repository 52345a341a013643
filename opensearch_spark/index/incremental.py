"""Incremental index maintenance: append a batch of new docs (the NRT
refresh analog) and compact generations (the TieredMergePolicy analog).

Reference behavior (SURVEY.md §2.9, §3.2): writes create new immutable
segments, visible after refresh; background merges fold small segments
into larger ones. Spark-first mapping:

- ``add_batch`` runs the build's one writer (``build.write_segments``)
  over only the new docs, routed ``seg = pmod(docId, n_segments)`` with
  the manifest's analyzer and index_options. It APPENDS posting blocks
  (a new "generation" of blocks whose doc ranges overlap older ones —
  scorers merge-sort at decode, codec.merge_generations), docstats
  files under a generation prefix and the generation's termstats rows,
  then atomically updates the globals manifest (doc counts, avgdl) from
  the writer's count summaries. Stored block bounds are (max_tf,
  min_dl_q), avgdl-independent, so older blocks stay valid.
- ``compact_index`` rewrites each (seg, term) posting list as one sorted
  single-generation block run — decode -> merge -> repack, no
  re-tokenization (the merge reads index bytes only, like Lucene segment
  merges). termstats is recomputed from the compacted postings metadata.

- ``upsert_batch`` is the versioned-upsert analog (reference:
  index/VersionType.java / index-API overwrite): tombstone every
  incoming docId (a distributed write to the deletes dir — Lucene's
  delete-then-add under the hood), then ``add_batch`` the new versions.
  Readers opening after it returns see exactly the new versions;
  compaction reclaims the dead ones.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.index import codec
from opensearch_spark.index.build import (
    IndexPaths, POSTINGS_SCHEMA, _pack_partition, _read_json,
    _write_json_atomic, by_seg, prepare, term_stats, write_segments,
)

OCC_SCHEMA = "docId long, seg int, norm_byte int, pos int, term string"


def add_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "content",
    id_cols: Sequence[str] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
) -> dict:
    """Append one batch of new documents to an existing index. Returns the
    updated globals manifest. Visibility: readers opening the index after
    this returns see the new docs (the refresh analog)."""
    paths = IndexPaths(index_dir)
    manifest = _read_json(paths.manifest)
    # new docs can add dictionary terms, so a built wildcard trigram
    # table would miss them. Mark it STALE rather than deleting: open
    # readers hold DataFrames over those files (rmtree would crash
    # them), and a pre-batch reader's stale grams are CONSISTENT with
    # its pre-batch postings view. New readers skip stale tables and
    # fall back to the dictionary scan until build_wildcard_index
    # rebuilds.
    _wg = os.path.join(index_dir, "wildgrams")
    if os.path.isdir(_wg):
        with open(os.path.join(_wg, "_STALE"), "w") as fh:
            fh.write("superseded by add_batch\n")

    generations = int(manifest.get("generations", 1)) + 1
    # compaction resets the count but keeps the files: skip used prefixes
    gen = generations
    while glob.glob(os.path.join(paths.docstats, f"g{gen}-*")):
        gen += 1
    before = set(glob.glob(os.path.join(paths.postings, "*.parquet")))
    tot = write_segments(
        by_seg(prepare(batch, text_col, id_cols, doc_id_col),
               int(manifest["n_segments"])),
        paths, f"g{gen}", int(manifest["block_size"]),
        str(manifest.get("analyzer", "standard")),
        str(manifest.get("index_options", "positions")),
    )
    # per-generation term stats delta from the batch's own posting files
    new = sorted(set(glob.glob(os.path.join(paths.postings, "*.parquet")))
                 - before)
    if new:
        term_stats(spark.read.parquet(*new)).write.mode("append").parquet(
            paths.termstats)

    manifest["doc_count"] = int(manifest["doc_count"]) + tot["doc_count"]
    manifest["field_doc_count"] = int(manifest["field_doc_count"]) + tot["fdc"]
    manifest["sum_ttf"] = int(manifest["sum_ttf"]) + tot["sum_ttf"]
    manifest["avgdl"] = manifest["sum_ttf"] / max(manifest["field_doc_count"], 1)
    manifest["generations"] = generations
    _write_json_atomic(paths.manifest, manifest)
    return manifest


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
    write), purge them via ``compact_index`` (the merge drops dead
    docs), then append the new versions. Readers opening after it
    returns see exactly the new versions; the compaction cost is the
    price of global tombstones and amortizes when upserts are batched
    (the reference pays the same cost in merge debt)."""
    if doc_id_col is None:
        ids = batch.select(
            F.xxhash64(*[F.col(c) for c in id_cols]).alias("docId")
        )
    else:
        ids = batch.select(F.col(doc_id_col).cast("long").alias("docId"))
    deletes_dir = os.path.join(index_dir, "deletes")
    ids.distinct().write.mode("append").parquet(deletes_dir)
    compact_index(spark, index_dir)
    return add_batch(
        spark, batch, index_dir, text_col=text_col, id_cols=id_cols,
        doc_id_col=doc_id_col,
    )


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
    block runs per (seg, term); recompute termstats from the compacted
    metadata. Safe to re-run; readers opening after the atomic swap see
    the compacted index.

    ``target_segments``: also MERGE segments down to this count
    (seg -> seg % target) — the TieredMergePolicy analog
    (``index/TieredMergePolicyProvider.java:216-237``): builds want many
    small segments (task granularity), serving wants few big ones
    (per-query per-segment overhead); background merges reconcile the
    two. Queries regroup by the new seg ids transparently."""
    paths = IndexPaths(index_dir)
    manifest = _read_json(paths.manifest)
    block_size = int(manifest["block_size"])
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # soft-delete purge (Lucene: merges drop deleted docs and reclaim
    # space): tombstoned docIds are filtered out of the occurrence
    # stream before re-packing, then docstats/globals are rewritten
    deletes_dir = os.path.join(index_dir, "deletes")
    del_df = None
    if glob.glob(os.path.join(deletes_dir, "*.parquet")):
        del_df = spark.read.parquet(deletes_dir).select("docId").distinct()

    tmp_postings = paths.postings + ".compact"
    shutil.rmtree(tmp_postings, ignore_errors=True)
    occ = spark.read.parquet(paths.postings).mapInArrow(
        _unpack_partition(), schema=OCC_SCHEMA
    )
    if del_df is not None:
        occ = occ.join(F.broadcast(del_df), "docId", "left_anti")
    if target_segments is not None:
        occ = occ.withColumn(
            "seg", F.pmod(F.col("seg"), F.lit(int(target_segments))).cast("int")
        )
    (
        occ
        .repartition(nshuf, "seg", "term")
        .mapInArrow(_pack_partition(block_size), schema=POSTINGS_SCHEMA)
        .sortWithinPartitions("term", "block_no")
        .write.mode("overwrite")
        .parquet(tmp_postings)
    )

    # atomic-ish swap (single-filesystem rename)
    old = paths.postings + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(paths.postings, old)
    os.replace(tmp_postings, paths.postings)
    shutil.rmtree(old, ignore_errors=True)

    # termstats: one row per term again, from compacted metadata
    tmp_ts = paths.termstats + ".compact"
    shutil.rmtree(tmp_ts, ignore_errors=True)
    term_stats(spark.read.parquet(paths.postings)).write.mode(
        "overwrite").parquet(tmp_ts)
    old = paths.termstats + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(paths.termstats, old)
    os.replace(tmp_ts, paths.termstats)
    shutil.rmtree(old, ignore_errors=True)

    if target_segments is not None:
        # remap docstats seg ids + manifest segment count
        tmp_ds2 = paths.docstats + ".remap"
        shutil.rmtree(tmp_ds2, ignore_errors=True)
        (
            spark.read.parquet(paths.docstats)
            .withColumn("seg", F.pmod(F.col("seg"), F.lit(int(target_segments))).cast("int"))
            .write.mode("overwrite").parquet(tmp_ds2)
        )
        old = paths.docstats + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(paths.docstats, old)
        os.replace(tmp_ds2, paths.docstats)
        shutil.rmtree(old, ignore_errors=True)
        manifest["n_segments"] = int(target_segments)

    if del_df is not None:
        # docstats minus tombstones; globals/manifest recomputed
        tmp_ds = paths.docstats + ".compact"
        shutil.rmtree(tmp_ds, ignore_errors=True)
        (
            spark.read.parquet(paths.docstats)
            .join(F.broadcast(del_df), "docId", "left_anti")
            .write.mode("overwrite")
            .parquet(tmp_ds)
        )
        old = paths.docstats + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(paths.docstats, old)
        os.replace(tmp_ds, paths.docstats)
        shutil.rmtree(old, ignore_errors=True)
        g = (
            spark.read.parquet(paths.docstats)
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("fdc"),
                F.sum("dl").alias("sum_ttf"),
            )
            .collect()[0]
        )
        fdc = int(g["fdc"] or 0) or 1
        manifest.update(
            doc_count=int(g["doc_count"]),
            field_doc_count=int(g["fdc"] or 0),
            sum_ttf=int(g["sum_ttf"] or 0),
            avgdl=float(int(g["sum_ttf"] or 0) / fdc),
        )
        shutil.rmtree(deletes_dir, ignore_errors=True)

    manifest["generations"] = 1
    _write_json_atomic(paths.manifest, manifest)
    return manifest
