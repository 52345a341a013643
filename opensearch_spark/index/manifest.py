"""The index's one commit point (Lucene's ``segments_N``; an Iceberg
snapshot id in SURVEY.md terms): ``<index>/manifest.json``.

The manifest holds the globals (doc counts, avgdl, analyzer, segment
count), a write counter ``commit``, the record of an unfinished
resumable build (``build``), and ``files``: the live files of each
table in :data:`TABLES`, by name within the table's directory.

Every writer adds only new immutable files, then publishes one manifest
(atomic rename), then deletes the files that neither it nor a retained
point-in-time record (``pits/<pit_id>/manifest.json``) lists. Readers
open only listed files, so a write that fails before its publish leaves
every reader on the previous commit; the next successful write removes
its files. One writer per index at a time; readers take no lock.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from typing import Sequence

TABLES = ("postings", "docstats", "termstats", "deletes")

# Block-max metadata is stored avgdl-independent: (max_tf, min_dl_q) give
# the query-time bound idf*(k1+1)*max_tf/(max_tf+k1*(1-b+b*min_dl_q/avgdl))
# — valid under ANY current avgdl, so incremental batches and compaction
# never invalidate stored bounds (impact increases in tf, decreases in dl).
SCHEMAS = {
    "postings": (
        "seg int, term string, block_no int, n_docs int, first_doc long, "
        "last_doc long, doc_bytes binary, tf_bytes binary, norm_bytes binary, "
        "pos_bytes binary, max_tf int, min_dl_q long, sum_tf long"
    ),
    "docstats": ("docId long, seg int, dl int, norm_byte int, dl_q long, "
                 "content_sha string"),
    "termstats": "term string, df long, ttf long",
    "deletes": "docId long",
}


@dataclass
class IndexPaths:
    root: str

    def table(self, name: str, *files: str) -> str:
        return os.path.join(self.root, name, *files)

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def pit(self, pit_id: str) -> str:
        return os.path.join(self.root, "pits", pit_id, "manifest.json")


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json_atomic(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_manifest(root: str, path: str | None = None) -> dict:
    """The committed state of the index at ``root`` (or the retention
    record at ``path``). Refuses an index written before the commit
    point existed and a resumable build that has not finished."""
    m = _read_json(path or IndexPaths(root).manifest)
    if "commit" not in m:
        raise ValueError(f"index at {root} predates the manifest commit "
                         "point; rebuild it")
    if not m.get("build", {}).get("done", True):
        raise ValueError(f"index at {root} is an unfinished build; rerun "
                         "build_index(..., overwrite=False) to resume it")
    return m


def with_files(manifest: dict, **tables: Sequence[str]) -> dict:
    """A copy of ``manifest`` with the file lists of ``tables`` replaced."""
    return {**manifest, "files": {**manifest["files"],
                                  **{t: list(v) for t, v in tables.items()}}}


def append(df, paths: IndexPaths, table: str) -> list:
    """Write ``df`` into ``table``'s directory as new files (one Spark
    write) and return their names; nothing reads them until a manifest
    lists them."""
    d = paths.table(table)
    before = set(os.listdir(d)) if os.path.isdir(d) else set()
    df.write.mode("append").parquet(d)
    return sorted(f for f in set(os.listdir(d)) - before
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))


def read_table(spark, paths: IndexPaths, table: str, names: Sequence[str]):
    """A DataFrame over exactly the files ``names`` of ``table``: one
    driver-side listing of the directory filtered by ``pathGlobFilter``,
    schema given, so no Spark job at any file count (a path list over
    32 entries runs a listing job, schema inference another). A listed
    file that a later commit deleted raises FileNotFoundError."""
    schema = SCHEMAS[table]
    if not names:
        return spark.createDataFrame([], schema)
    df = (spark.read.schema(schema)
          .option("pathGlobFilter", "{" + ",".join(names) + "}")
          .parquet(paths.table(table)))
    # after the listing: a file deleted before it is still gone now
    if not all(os.path.exists(paths.table(table, f)) for f in names):
        raise FileNotFoundError(
            f"index changed since open: {table} files its commit lists "
            "were deleted by a later commit; open a new SearchEngine")
    return df


def publish(paths: IndexPaths, manifest: dict) -> dict:
    """Make ``manifest`` the index's state as commit ``commit + 1``, then
    delete every file under the table directories that neither it nor a
    retained PIT record lists: replaced files of earlier commits, a
    failed write's files, Spark's ``_SUCCESS`` and checksum files,
    side-channel summaries. A table an earlier version wrote that is not
    in TABLES leaves the manifest and its files are deleted: no reader
    opens it. Returns the published manifest."""
    m = {**manifest, "commit": int(manifest["commit"]) + 1,
         "files": {t: list(manifest["files"][t]) for t in TABLES}}
    _write_json_atomic(paths.manifest, m)
    keep = {t: set(m["files"].get(t, ())) for t in manifest["files"]}
    for rec in glob.glob(paths.pit("*")):
        files = _read_json(rec)["files"]
        for t in TABLES:
            keep[t].update(files.get(t, ()))
    for t in keep:
        top = paths.table(t)
        for d, _, files in os.walk(top, topdown=False):
            for f in files:
                if d != top or f not in keep[t]:
                    os.remove(os.path.join(d, f))
            if d != top:
                os.rmdir(d)
    return m
