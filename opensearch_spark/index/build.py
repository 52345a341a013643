"""Distributed inverted-index construction (the `_bulk` path, Spark-first).

Reference behavior (SURVEY.md §3.2): docs are routed to shards by id hash,
analyzed, and written as immutable per-segment inverted indexes — term
dictionary -> postings (docID, tf, positions), delta-encoded in 128-doc
blocks with per-block max-impact data for block-max WAND. We reproduce the
*logical* layout Spark-first.

ONE WRITER (the reference's IndexWriter + indexing chain): the first
build, every wave of a resumable build, ``add_batch`` and
``upsert_batch`` all run :func:`write_segments` — SEGMENT-LOCAL and
shuffle-free, each task builds the complete inverted index of the
segments it holds:

  corpus (repo,path,commit,lang,content)          [input, any DataFrame]
    -> docId = xxhash64(id cols), content_sha = sha2 (JVM-side)
    -> seg = spark partition id (build, waves == 1), or
       pmod(docId, n_segments) + repartition by seg (waves > 1, add_batch);
       either way no segment spans two partitions
    -> ONE mapInArrow per partition (_local_index_fn):
         tokenize (DuckDB regexp_extract_all on the Arrow batch; token
         strings stay in Arrow buffers — never Python objects)
         -> occurrence arrays -> vectorized numpy packing into 128-doc
         blocks (delta+varint docIds, varint tfs, byte4 norms inline,
         varint position gaps, per-block (max_tf, min_dl_q) WAND bounds)
         + per-doc stats and a 1-row count summary written side-channel
         (segment-file analog), named by write prefix + partition id
    -> parquet tables: postings/ docstats/ termstats/
    -> one manifest.json publish (index/manifest.py): the commit point
       listing every live file, plus the globals

RESUMABLE builds (waves > 1): wave w writes the segments with
``seg % waves == w`` and publishes one commit whose ``build`` record
lists the waves done; readers refuse the index until the last commit
(termstats) marks the build done. A rerun with ``overwrite=False``
reads the corpus again only for the waves not yet done. The index root
must be a POSIX path shared by the driver and the executors
(side-channel files, the manifest, local renames).

Scale notes (100 TB design):
- The default build moves NO data: doc->segment placement reuses input
  partitioning (one repartition of raw text only if the caller forces a
  different segment count). The build is embarrassingly parallel;
  measured weak scaling is flat (BASELINE.md).
- Hot-term skew is defused structurally: segments partition by DOC, so
  a term in every doc contributes at most |segment| occurrences per
  task (the salted-repartition requirement; seg = the salt).
- n_segments is the task granularity: use ~4x cores (stragglers/AQE),
  but keep segments >= a few thousand docs; serving prefers FEW large
  segments -> merge down with compact_index(target_segments=...).
- Per-process Arrow/DuckDB thread pools are pinned to 1 inside the UDF:
  N workers x N default threads oversubscribes the host quadratically.
- Posting files are sorted by term -> parquet row-group min/max
  skipping at query time; termstats derives from packed metadata
  columns (n_docs, sum_tf) — no second pass over token data; the
  manifest's counts sum the writers' count summaries — no aggregate job
  over docstats.

BM25 constants k1=1.2, b=0.75 follow the reference defaults
(``index/similarity/SimilarityProviders.java:276-292``).
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.analysis.smallfloat import (
    decode_norms_np, int_to_byte4_np, length_table,
)
from opensearch_spark.index import codec
from opensearch_spark.index.manifest import (
    SCHEMAS, TABLES, IndexPaths, _read_json, append, publish, read_manifest,
    read_table, with_files,
)

K1 = 1.2
B = 0.75
DEFAULT_BLOCK = 128

POSTINGS_SCHEMA = SCHEMAS["postings"]


_INT32_MAX = (1 << 31) - 1


def _binary_col(buf: bytes, offsets: np.ndarray):
    """ZERO-COPY Arrow BinaryArray from a (values buffer, offsets) pair —
    blocks tile their byte streams contiguously, so no slicing loop.

    Offsets are 32-bit (pa.binary()); a single partition packing > 2 GiB
    of varint stream would silently wrap, so guard and fail with an
    actionable hint instead (one task == one segment in the zero-shuffle
    path, and compaction deliberately merges to few large segments)."""
    import pyarrow as pa

    if offsets.size and int(offsets[-1]) > _INT32_MAX:
        raise ValueError(
            f"posting byte stream ({int(offsets[-1])} bytes) exceeds the "
            "2 GiB int32 Arrow offset limit for one segment — raise "
            "n_segments (smaller segments) or compact to more target "
            "segments"
        )
    off32 = offsets.astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), off32.size - 1,
        [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(buf)],
    )


def _pack_arrays(doc, nb, seg, pos, codes, uniques, block_size):
    """Vectorized numpy core: per-occurrence arrays -> one Arrow
    RecordBatch of packed posting blocks (POSTINGS_SCHEMA).

    One lexsort orders occurrences by (seg, term, doc, pos); doc-group
    and block boundaries come from flag arrays; per-block aggregates use
    ``reduceat``; each byte stream (doc deltas, tfs, position gaps) is
    varint-encoded ONCE, and the binary columns are zero-copy
    (offsets, buffer) BinaryArrays. ``uniques`` is the Arrow term
    dictionary — term strings never materialize as Python objects (the
    Arrow->pandas object-dtype conversion was the memory-bandwidth hot
    spot at high core counts)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if True:  # keep the original indentation of the packing pipeline
        order = np.lexsort((pos, doc, codes, seg))
        doc, nb, seg, pos, codes = (
            doc[order], nb[order], seg[order], pos[order], codes[order]
        )
        n = doc.size

        # doc-group boundaries: one group per (seg, term, doc)
        occ_new = np.empty(n, dtype=bool)
        occ_new[0] = True
        occ_new[1:] = (
            (doc[1:] != doc[:-1]) | (codes[1:] != codes[:-1]) | (seg[1:] != seg[:-1])
        )
        dg_start = np.flatnonzero(occ_new)
        dg_end = np.append(dg_start[1:], n)
        tf = dg_end - dg_start
        d_doc = np.ascontiguousarray(doc[dg_start])
        d_nb = nb[dg_start]
        d_code = codes[dg_start]
        d_seg = seg[dg_start]
        n_dg = dg_start.size

        # (seg,term)-group and block boundaries at doc-group level
        tg_new = np.empty(n_dg, dtype=bool)
        tg_new[0] = True
        tg_new[1:] = (d_code[1:] != d_code[:-1]) | (d_seg[1:] != d_seg[:-1])
        tg_first = np.flatnonzero(tg_new)
        tg_len = np.append(tg_first[1:], n_dg) - tg_first
        idx_in_group = np.arange(n_dg, dtype=np.int64) - np.repeat(tg_first, tg_len)
        blk_new = tg_new | (idx_in_group % block_size == 0)
        bs = np.flatnonzero(blk_new)
        be = np.append(bs[1:], n_dg)

        dl_q = length_table()[d_nb]

        # doc-id stream: zigzag(first-of-block) + unsigned deltas
        du = d_doc.view(np.uint64)
        u = np.empty(n_dg, dtype=np.uint64)
        u[1:] = du[1:] - du[:-1]
        u[bs] = codec.zigzag_encode(d_doc[bs])
        doc_buf, doc_lens = codec.varint_encode_lengths(u)
        doc_off = np.concatenate(([0], np.cumsum(doc_lens)))

        tf_buf, tf_lens = codec.varint_encode_lengths(tf.astype(np.uint64))
        tf_off = np.concatenate(([0], np.cumsum(tf_lens)))

        # position stream: per-doc first position raw, then gaps
        gaps = pos.copy()
        gaps[1:] -= pos[:-1]
        gaps[dg_start] = pos[dg_start]
        pos_buf, pos_lens = codec.varint_encode_lengths(gaps.astype(np.uint64))
        pos_off = np.concatenate(([0], np.cumsum(pos_lens)))

        occ_a = dg_start[bs]          # first occurrence of each block
        # blocks tile the doc-group range contiguously -> zero-copy
        # (offsets, buffer) BinaryArrays; the offsets are just the byte
        # prefix sums evaluated at block boundaries
        blk_edges = np.append(bs, n_dg)
        occ_edges = np.append(occ_a, dg_end[be[-1] - 1])
        norm_off = np.append(bs, n_dg)  # 1 byte per doc-group

        return pa.record_batch(
            [
                pa.array(d_seg[bs].astype(np.int32), pa.int32()),
                pc.take(uniques, pa.array(d_code[bs])),
                pa.array((idx_in_group[bs] // block_size).astype(np.int32), pa.int32()),
                pa.array((be - bs).astype(np.int32), pa.int32()),
                pa.array(d_doc[bs], pa.int64()),
                pa.array(d_doc[be - 1], pa.int64()),
                _binary_col(doc_buf, doc_off[blk_edges]),
                _binary_col(tf_buf, tf_off[blk_edges]),
                _binary_col(d_nb.tobytes(), norm_off),
                _binary_col(pos_buf, pos_off[occ_edges]),
                pa.array(np.maximum.reduceat(tf, bs).astype(np.int32), pa.int32()),
                pa.array(np.minimum.reduceat(dl_q, bs), pa.int64()),
                pa.array(np.add.reduceat(tf, bs), pa.int64()),
            ],
            names=[
                "seg", "term", "block_no", "n_docs", "first_doc", "last_doc",
                "doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes",
                "max_tf", "min_dl_q", "sum_tf",
            ],
        )


def _pack_partition(block_size: int):
    """mapInArrow fn: per-OCCURRENCE rows (seg, term, docId, norm_byte,
    pos) -> packed posting-block rows (_pack_arrays core). Requires all
    rows of a (seg, term) group co-located (guaranteed by the preceding
    repartition). The repack step of the compaction merge
    (incremental.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def pack(batches):
        tables = [pa.Table.from_batches([b]) for b in batches]
        if not tables:
            return
        t = pa.concat_tables(tables).combine_chunks()
        if t.num_rows == 0:
            return
        doc = t.column("docId").to_numpy(zero_copy_only=False).astype(np.int64)
        nb = t.column("norm_byte").to_numpy(zero_copy_only=False).astype(np.uint8)
        seg = t.column("seg").to_numpy(zero_copy_only=False).astype(np.int64)
        pos = t.column("pos").to_numpy(zero_copy_only=False).astype(np.int64)
        enc = pc.dictionary_encode(t.column("term")).combine_chunks()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        yield _pack_arrays(doc, nb, seg, pos, codes, enc.dictionary, block_size)

    return pack


def _local_index_fn(block_size: int, docstats_dir: str, tok_expr: str,
                    index_options: str = "positions", prefix: str = "w0"):
    """mapInArrow fn implementing SEGMENT-LOCAL indexing — the Lucene
    shard-build analog (reference: each shard's IndexWriter builds its
    own complete per-segment inverted index; SURVEY.md §3.2). A
    partition holds whole segments (one or several): the UDF tokenizes
    its documents and packs their COMPLETE posting lists locally, so
    there is NO occurrence shuffle at all.

    Tokenization runs inside an embedded DuckDB (single-threaded) via
    ``regexp_extract_all`` on the Arrow batch: token strings stay in
    Arrow list buffers end-to-end — flat terms = ListArray.values
    (zero copy), per-doc positions = arange over the list offsets. The
    RE2 token regex is the SAME dialect the correctness oracle uses, so
    engine==oracle parity already validates it against the Python
    analyzer.

    Per-doc stats (dl, norm, sha) and a 1-row count summary are written
    SIDE-CHANNEL as ``docstats/{prefix}-NNNNN.parquet`` and
    ``docstats/_summaries/{prefix}-NNNNN.parquet`` (NNNNN = partition
    id) — the Lucene segment-file analog. The prefix keeps writes apart;
    the deterministic names make task retries idempotent (last writer
    wins with identical content)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def write_atomic(table, path: str) -> None:
        # write-to-temp + atomic rename: pq.write_table is not atomic,
        # and concurrent speculative/zombie attempts may race on the
        # same deterministic filename — os.replace makes last-writer-
        # wins with never-partial content
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)

    def fn(batches):
        # each executor core runs one python worker: pin the per-process
        # Arrow/DuckDB thread pools to 1 or N workers x N threads
        # oversubscribe the host quadratically
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:
            pass
        tables = [pa.Table.from_batches([b]) for b in batches]
        if not tables:
            return
        t = pa.concat_tables(tables).combine_chunks()
        if t.num_rows == 0:
            return
        con = duckdb.connect(config={"threads": 1})
        con.register("docs", t)
        toks_t = con.execute(
            "SELECT " + tok_expr + " AS toks FROM docs"
        ).arrow()
        con.close()
        toks = toks_t.column("toks").combine_chunks()
        flat = toks.values            # StringArray — no Python strings
        offs = toks.offsets.to_numpy().astype(np.int64)

        doc_ids = t.column("docId").to_numpy(zero_copy_only=False).astype(np.int64)
        seg_col = t.column("seg").to_numpy(zero_copy_only=False).astype(np.int64)
        dl = np.diff(offs)
        norm_byte = int_to_byte4_np(dl)
        dl_q = decode_norms_np(norm_byte)

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else int(seg_col[0])
        name = f"{prefix}-{part:05d}.parquet"
        write_atomic(pa.table({
            "docId": pa.array(doc_ids, pa.int64()),
            "seg": pa.array(seg_col.astype(np.int32), pa.int32()),
            "dl": pa.array(dl.astype(np.int32), pa.int32()),
            "norm_byte": pa.array(norm_byte.astype(np.int32), pa.int32()),
            "dl_q": pa.array(dl_q.astype(np.int64), pa.int64()),
            "content_sha": t.column("content_sha"),
        }), os.path.join(docstats_dir, name))
        # 1-row count summary (coordinator-mergeable shard stats): the
        # driver sums one tiny file per task instead of running an agg
        # job over every doc. The "_" prefix keeps Spark parquet readers
        # of docstats/ from picking these up.
        write_atomic(pa.table({
            "seg": pa.array([int(part)], pa.int64()),
            "doc_count": pa.array([int(doc_ids.size)], pa.int64()),
            "fdc": pa.array([int((dl > 0).sum())], pa.int64()),
            "sum_ttf": pa.array([int(dl.sum())], pa.int64()),
        }), os.path.join(docstats_dir, "_summaries", name))

        if int(dl.sum()) == 0:
            return
        # ---- occurrence arrays (all within this partition's segments) --
        doc_rep = np.repeat(doc_ids, dl)
        nb_rep = np.repeat(norm_byte.astype(np.uint8), dl)
        seg_rep = np.repeat(seg_col, dl)
        pos = np.arange(doc_rep.size, dtype=np.int64) - np.repeat(offs[:-1], dl)
        enc = pc.dictionary_encode(flat)
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if index_options == "docs":
            # match_only_text storage (reference:
            # MatchOnlyTextFieldMapper.java:46 — IndexOptions.DOCS, no
            # freqs/positions, norms unused): keep ONE occurrence per
            # (doc, term) with position 0; tf collapses to 1 and
            # pos_bytes to a single varint per posting. Phrase queries
            # re-verify against the source at query time.
            order = np.lexsort((doc_rep, codes))
            cs, ds = codes[order], doc_rep[order]
            keep = np.ones(order.size, dtype=bool)
            keep[1:] = (cs[1:] != cs[:-1]) | (ds[1:] != ds[:-1])
            first = order[keep]
            doc_rep, nb_rep, seg_rep = (
                doc_rep[first], nb_rep[first], seg_rep[first])
            codes = codes[first]
            pos = np.zeros(first.size, dtype=np.int64)
        yield _pack_arrays(
            doc_rep, nb_rep, seg_rep, pos, codes, enc.dictionary, block_size
        )

    return fn


def prepare(corpus: DataFrame, text_col: str, id_cols: Sequence[str],
            doc_id_col: str | None) -> DataFrame:
    """corpus -> (docId, content_sha, content): the writer's input
    columns before a segment is assigned."""
    if doc_id_col is None:
        doc_id = F.xxhash64(*[F.col(c) for c in id_cols])
    else:
        doc_id = F.col(doc_id_col).cast("long")
    return corpus.select(
        doc_id.alias("docId"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("content_sha"),
        F.col(text_col).alias("content"),
    )


def _route_keys(n: int) -> list:
    """``keys[p]``: an int that Spark's hash partitioning into ``n``
    partitions sends to partition ``p`` — ``pmod(hash(k), n)`` with
    Spark's ``hash`` of an int (Murmur3_x86_32.hashInt, seed 42)."""
    m, keys = 0xFFFFFFFF, {}

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    for k in range(1 << 31):
        h = (rotl(42 ^ rotl(k * 0xCC9E2D51 & m, 15) * 0x1B873593 & m, 13)
             * 5 + 0xE6546B64) & m ^ 4
        h = (h ^ h >> 16) * 0x85EBCA6B & m
        h = (h ^ h >> 13) * 0xC2B2AE35 & m
        keys.setdefault(((h ^ h >> 16) - (h >> 31 << 32)) % n, k)
        if len(keys) == n:
            return [keys[p] for p in range(n)]


def by_seg(prepared: DataFrame, n_segments: int,
           segs: Sequence[int] | None = None) -> DataFrame:
    """Assign ``seg = pmod(docId, n_segments)`` (optionally keeping only
    ``segs``) and repartition so that partition i holds exactly segment
    ``segs[i]`` — the routing rule of waves and of ``add_batch``. A hash
    repartition on seg itself would pack several segments into one task
    and leave others empty; the rows are hashed on a per-segment key
    chosen to land in that segment's own partition instead."""
    segs = list(range(n_segments)) if segs is None else list(segs)
    df = prepared.withColumn(
        "seg", F.pmod(F.col("docId"), F.lit(n_segments)).cast("int"))
    if len(segs) < n_segments:
        df = df.where(F.col("seg").isin(segs))
    keys = _route_keys(len(segs))
    part = {s: i for i, s in enumerate(segs)}
    route = F.element_at(
        F.array(*[F.lit(keys[part.get(s, 0)]) for s in range(n_segments)]),
        F.col("seg") + 1)
    return df.repartition(len(segs), route)


def write_segments(prepared: DataFrame, paths: IndexPaths, manifest: dict) -> dict:
    """THE index writer. ``prepared`` holds (docId, content_sha, content,
    seg) with no segment spanning two partitions; each task indexes its
    segments locally (``_local_index_fn``) with the manifest's analyzer,
    block size and index_options, postings go through one Spark write
    and docstats side-channel under a prefix unique to this write.
    Returns ``manifest`` with the new files appended and the counts of
    the write's summaries added (Lucene: avgFieldLength =
    sumTotalTermFreq / docCount of docs with >= 1 token, as double);
    nothing reads the files until the caller publishes it."""
    import uuid

    import pyarrow.parquet as pq

    from opensearch_spark.analysis.analyzer import duckdb_tokens_expr

    prefix, ds = uuid.uuid4().hex[:12], paths.table("docstats")
    postings = append(
        prepared.mapInArrow(
            _local_index_fn(manifest["block_size"], ds,
                            duckdb_tokens_expr(manifest["analyzer"]),
                            index_options=manifest["index_options"], prefix=prefix),
            schema=POSTINGS_SCHEMA,
        ).sortWithinPartitions("term", "block_no"),
        paths, "postings")
    docstats = [os.path.basename(f) for f in
                sorted(glob.glob(os.path.join(ds, f"{prefix}-*.parquet")))]
    m = with_files(manifest, postings=manifest["files"]["postings"] + postings,
                   docstats=manifest["files"]["docstats"] + docstats)
    summaries = glob.glob(os.path.join(ds, "_summaries", f"{prefix}-*.parquet"))
    tot = pq.read_table(summaries).to_pydict() if summaries else {}
    for key, col in (("doc_count", "doc_count"), ("field_doc_count", "fdc"),
                     ("sum_ttf", "sum_ttf")):
        m[key] = int(m[key]) + sum(tot.get(col, []))
    m["avgdl"] = float(m["sum_ttf"] / (m["field_doc_count"] or 1))
    return m


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term df/ttf from packed postings' metadata columns
    (column-pruned scan of n_docs/sum_tf — no pass over token data)."""
    return postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("ttf"))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_cols: Sequence[str] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_segments: int = 16,
    block_size: int = DEFAULT_BLOCK,
    waves: int = 1,
    overwrite: bool = True,
    analyzer: str = "standard",
    index_options: str = "positions",
) -> IndexPaths:
    """Build the inverted index for ``corpus[text_col]`` under ``out_dir``.

    ``overwrite=True`` starts from an empty ``out_dir``. ``waves`` > 1
    writes the segments in that many groups, each published as a commit
    that records the waves done; with ``overwrite=False`` a build
    interrupted at ``out_dir`` with the same ``n_segments``/``waves``
    resumes, writing only the waves not yet done (a finished one is
    left as it is).
    """
    if index_options not in ("positions", "docs"):
        raise ValueError(f"unknown index_options: {index_options}")
    paths = IndexPaths(out_dir)
    cfg = {"n_segments": n_segments, "waves": waves}
    m = (_read_json(paths.manifest)
         if not overwrite and os.path.exists(paths.manifest) else {})
    if "commit" not in m or {k: m["build"].get(k) for k in cfg} != cfg:
        shutil.rmtree(out_dir, ignore_errors=True)
        m = {
            "version": 3, "commit": 0,
            "analyzer": analyzer,
            "analyzer_impl": "uax29-subset-v1" if analyzer == "standard" else analyzer,
            "n_segments": n_segments, "block_size": block_size,
            "k1": K1, "b": B, "index_options": index_options,
            "doc_count": 0, "field_doc_count": 0, "sum_ttf": 0, "avgdl": 0.0,
            "generations": 1,
            "build": {**cfg, "waves_done": [], "done": False},
            "files": {t: [] for t in TABLES},
        }
    if m["build"]["done"]:
        return paths
    os.makedirs(out_dir, exist_ok=True)

    prepared = prepare(corpus, text_col, id_cols, doc_id_col)
    for w in range(min(waves, n_segments)):  # a wave needs a segment
        if w in m["build"]["waves_done"]:
            continue
        if waves == 1:
            # one partition == one segment: at most one repartition of
            # the raw corpus (free when the input already has
            # n_segments partitions)
            try:
                n_in = prepared.rdd.getNumPartitions()
            except Exception:
                n_in = 0
            frame = (prepared if n_in == n_segments
                     else prepared.repartition(n_segments))
            frame = frame.withColumn("seg", F.spark_partition_id())
        else:
            frame = by_seg(prepared, n_segments,
                          [s for s in range(n_segments) if s % waves == w])
        m = write_segments(frame, paths, m)
        m["build"] = {**m["build"],
                      "waves_done": sorted(m["build"]["waves_done"] + [w])}
        m = publish(paths, m)

    termstats = append(term_stats(read_table(
        spark, paths, "postings", m["files"]["postings"])), paths, "termstats")
    publish(paths, {**with_files(m, termstats=termstats),
                    "build": {**m["build"], "done": True}})
    return paths


def load_index(spark: SparkSession, out_dir: str,
               manifest: dict | None = None) -> dict:
    """Open the committed state of an index — or ``manifest``, e.g. a
    retained PIT record: DataFrames over exactly its listed postings and
    docstats files, plus the manifest as ``globals``."""
    paths = IndexPaths(out_dir)
    m = manifest or read_manifest(out_dir)
    return {
        "paths": paths,
        **{t: read_table(spark, paths, t, m["files"][t])
           for t in ("postings", "docstats")},
        "globals": m,
    }
