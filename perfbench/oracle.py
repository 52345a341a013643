"""Correctness gate: rank identity against the package's DuckDB oracle.

``opensearch_spark.oracle_ft`` emits SQL whose shared CTEs tokenize the
whole corpus (``tok``, ``dl``, ``dlq``, ``gl``, ``tf``, ``dfreq``). They
are materialized once per corpus state as DuckDB tables, and each
query's SQL runs with those CTEs stripped, so a query costs its own
clauses only.
"""

from __future__ import annotations

import re

import duckdb

from opensearch_spark import oracle_ft

_CTE_HEAD = re.compile(r"^(\w+)(?:\([^)]*\))? AS \(", re.M)
TOL = 1.5e-4   # both sides round to 4 decimals


class Oracle:
    def __init__(self, corpus_parquet: str):
        """``corpus_parquet`` has ``doc_id`` (the engine's docId) and
        ``content``; every row is a live document."""
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            f"CREATE VIEW {oracle_ft.TABLE} AS SELECT doc_id AS {oracle_ft.ID}, "
            f"content AS {oracle_ft.TEXT} FROM read_parquet('{corpus_parquet}')")
        self.base = oracle_ft.base_ctes()
        heads = list(_CTE_HEAD.finditer(self.base))
        for i, h in enumerate(heads):
            end = heads[i + 1].start() if i + 1 < len(heads) else len(self.base)
            cte = self.base[h.start():end].rstrip().rstrip(",")
            self.con.execute(f"CREATE TEMP TABLE {h.group(1)} AS WITH {cte} SELECT * FROM {h.group(1)}")

    def scores(self, fn: str, kwargs: dict) -> dict:
        """All matching docs of one oracle query: ``{doc_id: score}``."""
        sql = getattr(oracle_ft, fn)(**kwargs)
        prefix = f"WITH {self.base},"
        if not sql.startswith(prefix):
            raise ValueError(f"{fn} SQL does not start with the shared CTEs")
        rows = self.con.execute("WITH " + sql[len(prefix):]).fetchall()
        return {int(d): float(s) for d, s in rows}

    def close(self) -> None:
        self.con.close()


def rank_identical(got: list, expected: dict, k: int) -> bool:
    """``got``: the engine's top-k ``[(docId, score)]`` in rank order.
    Identical when it has the oracle's length, every hit carries its
    oracle score, scores follow the oracle's top-k order, and no doc
    the oracle scores strictly higher than the k-th hit is missing;
    docs tied at the cut may be any of the tied set."""
    want = sorted(expected.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in expected or abs(expected[d] - round(s, 4)) > TOL or abs(ws - round(s, 4)) > TOL:
            return False
    if not want:
        return True
    cut = want[-1][1]
    ids = {d for d, _ in got}
    return all(d in ids for d, s in expected.items() if s > cut + TOL)
