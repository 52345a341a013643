"""Driver-side stored-fields reader: a corpus's rows by docId, read from
its parquet files with pyarrow.

The reference's fetch phase loads ``_source`` for the winning docs only,
by docID, from the segment's stored fields (``search/fetch/
FetchPhase.java:109-176``). Our corpus is the caller's parquet table, so
the analog is a docId -> (file, row index) map over its files: built by
one Spark job on an engine's first driver-tier fetch, then used by every
later one to read just the row groups that hold the hits, and just the
columns the request returns, without a Spark job.

It applies only to a corpus that is a bare scan of local parquet files
(no filter, projection or partition columns) whose Spark schema equals
every file's Arrow schema, so that the rows read here are the rows, with
the types, a Spark fetch returns. A file changed since the map was built
sends the fetch back to Spark.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

# the map's bytes per corpus row: docId int64 + row index int64 + file int32
BYTES_PER_ROW = 20


def _local_path(uri: str) -> Optional[str]:
    u = urlparse(uri)
    return unquote(u.path) if u.scheme in ("", "file") else None


def open_stored(corpus: DataFrame) -> "Optional[StoredFields]":
    """A reader of ``corpus``'s rows if it is a bare scan of local parquet
    files: its analyzed plan is one parquet relation without partition
    columns, and Spark's schema equals the files' (one) Arrow schema.
    None otherwise."""
    from pyspark.sql.pandas.types import from_arrow_schema

    plan = corpus._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            or not rel.partitionSchema().isEmpty()):
        return None
    files = [_local_path(u) for u in corpus.inputFiles()]
    if not files or None in files:
        return None
    try:
        sf = StoredFields(files)
        same = (all(s.equals(sf.schema) for s in sf.schemas)
                and [(f.name, f.dataType) for f in from_arrow_schema(sf.schema)]
                == [(f.name, f.dataType) for f in corpus.schema])
    except (OSError, TypeError, ValueError, NotImplementedError):
        return None
    return sf if same else None


class StoredFields:
    """The rows of parquet ``files`` by docId. Construction reads the
    footers: each file's (size, mtime) identity, row group bounds and
    Arrow schema. ``build`` fills the docId map with one Spark job;
    ``read`` then serves docIds from the files."""

    def __init__(self, files: Sequence[str]):
        self.files = list(files)
        self.ident, self.starts, self.schemas = [], [], []
        for f in self.files:
            st = os.stat(f)
            md = pq.read_metadata(f)
            self.ident.append((st.st_size, st.st_mtime_ns))
            self.starts.append(np.cumsum(
                [0] + [md.row_group(i).num_rows for i in range(md.num_row_groups)]))
            self.schemas.append(md.schema.to_arrow_schema().remove_metadata())
        self.schema = self.schemas[0]
        self.n_rows = int(sum(s[-1] for s in self.starts))
        self.nbytes = BYTES_PER_ROW * self.n_rows
        # the docId map, sorted by (docId, file, row): filled by build
        self.ids = self.file = self.row = None

    def build(self, corpus: DataFrame) -> bool:
        """Fill the map from ``corpus`` (the files' scan with its
        ``docId`` column): one Spark job. False if Spark read a file this
        reader does not know."""
        t = corpus.select("docId", F.col("_metadata.file_path").alias("f"),
                          F.col("_metadata.row_index").alias("r")).toArrow()
        coded = t.column("f").combine_chunks().dictionary_encode()
        index = {p: i for i, p in enumerate(self.files)}
        known = [index.get(_local_path(u), -1) for u in coded.dictionary.to_pylist()]
        if -1 in known:
            return False
        ids = t.column("docId").to_numpy()
        file = np.asarray(known, np.int32)[coded.indices.to_numpy()]
        row = t.column("r").to_numpy()
        order = np.lexsort((row, file, ids))
        self.ids, self.file, self.row = ids[order], file[order], row[order]
        return True

    def changed(self) -> bool:
        """Whether any file is gone or its (size, mtime) differs from the
        footer read's."""
        try:
            return [(st.st_size, st.st_mtime_ns)
                    for st in map(os.stat, self.files)] != self.ident
        except OSError:
            return True

    def read(self, doc_ids: np.ndarray, cols: Sequence[str]) -> tuple:
        """(rows, hit, rows_read): the ``cols`` of every corpus row whose
        docId is in ``doc_ids``, grouped in ``doc_ids`` order (a docId
        with several rows yields each, in file and row order);
        ``hit[i]`` is the position in ``doc_ids`` of row i; ``rows_read``
        counts the rows of the row groups read."""
        lo = np.searchsorted(self.ids, doc_ids, "left")
        n = np.searchsorted(self.ids, doc_ids, "right") - lo
        hit = np.repeat(np.arange(len(doc_ids)), n)
        at = np.arange(n.sum()) + np.repeat(lo - (np.cumsum(n) - n), n)
        file, row = self.file[at], self.row[at]
        parts, order, rows_read = [], [], 0
        for f in np.unique(file):
            sel = np.flatnonzero(file == f)
            starts = self.starts[f]
            rg = np.searchsorted(starts, row[sel], "right") - 1
            groups = np.unique(rg)
            sizes = starts[groups + 1] - starts[groups]
            base = np.cumsum(sizes) - sizes  # each group's offset in the read
            with pq.ParquetFile(self.files[f]) as pf:
                t = pf.read_row_groups(groups.tolist(), columns=list(cols)).select(list(cols))
            parts.append(t.take(base[np.searchsorted(groups, rg)] + row[sel] - starts[rg]))
            order.append(sel)
            rows_read += int(sizes.sum())
        if not parts:
            return (pa.schema([self.schema.field(c) for c in cols]).empty_table(),
                    hit, 0)
        rows = pa.concat_tables(parts)
        if len(parts) > 1:
            rows = rows.take(np.argsort(np.concatenate(order), kind="stable"))
        return rows, hit, rows_read
