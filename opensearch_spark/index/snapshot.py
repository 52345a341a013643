"""Snapshot repositories (reference: ``repositories/fs/FsRepository.java``
+ ``snapshots/SnapshotsService.java``): point-in-time copies of an index
into a repository directory, restorable by name.

The index tables are immutable parquet files and ``manifest.json`` lists
the live ones, so a snapshot is a FILE-LEVEL copy of exactly the
manifest's files plus the manifest — hardlinked when the repository
shares a filesystem with the index (the reference's incremental segment
reuse: unchanged files cost zero bytes), byte-copied otherwise. Files of
a failed or in-flight write are not copied. Restore materializes the
file set under a fresh index root.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from typing import List

from opensearch_spark.index.manifest import IndexPaths, read_manifest

_SNAP_META = "snapshot.json"


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def create_snapshot(index_dir: str, repo_dir: str, name: str) -> dict:
    """Snapshot the committed state of ``index_dir`` into
    ``repo_dir/name``. Fails if the name exists (snapshots are
    immutable, like the reference)."""
    dest = os.path.join(repo_dir, name)
    if os.path.exists(dest):
        raise ValueError(f"snapshot {name!r} already exists")
    paths = IndexPaths(index_dir)
    manifest = read_manifest(index_dir)
    os.makedirs(dest)
    for table, names in manifest["files"].items():
        for f in names:
            os.makedirs(os.path.join(dest, table), exist_ok=True)
            _link_or_copy(paths.table(table, f), os.path.join(dest, table, f))
    with open(os.path.join(dest, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    meta = {
        "name": name,
        "source": os.path.abspath(index_dir),
        "n_files": sum(map(len, manifest["files"].values())),
        "created_unix": int(time.time()),
        "state": "SUCCESS",
    }
    with open(os.path.join(dest, _SNAP_META), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def list_snapshots(repo_dir: str) -> List[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(repo_dir, "*", _SNAP_META))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def restore_snapshot(repo_dir: str, name: str, dest_index_dir: str) -> dict:
    """Materialize snapshot ``name`` as a fresh index at
    ``dest_index_dir`` (hardlink/copy back)."""
    src = os.path.join(repo_dir, name)
    meta_p = os.path.join(src, _SNAP_META)
    if not os.path.exists(meta_p):
        raise ValueError(f"no snapshot {name!r} in {repo_dir}")
    if os.path.exists(dest_index_dir) and os.listdir(dest_index_dir):
        raise ValueError(f"restore target {dest_index_dir} is not empty")
    os.makedirs(dest_index_dir, exist_ok=True)
    for f in glob.glob(os.path.join(src, "**", "*"), recursive=True):
        if os.path.isdir(f) or os.path.basename(f) == _SNAP_META:
            continue
        rel = os.path.relpath(f, src)
        out = os.path.join(dest_index_dir, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        _link_or_copy(f, out)
    with open(meta_p) as f:
        return json.load(f)
