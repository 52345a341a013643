"""DuckDB oracle-SQL generator for the full-text engine.

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL equivalent on DuckDB over the same parquet tables. This module
emits SQL that reproduces the ENGINE's exact scoring contract — same
tokenizer (RE2 dialect of the same grammar), same byte4 doc-length
quantization (embedded as a breakpoint lookup CTE generated from
analysis/smallfloat.py), same BM25 formula with the same floating-point
association order — so rounded scores hash-match.

Scores are rounded to 4 decimals on BOTH sides; queries return ALL
matching docs (no top-k) so float ties cannot flip a limit boundary.
"""

from __future__ import annotations

from typing import List, Sequence

from opensearch_spark.analysis.analyzer import (
    MAX_TOKEN_LENGTH,
    duckdb_tokens_expr,
    tokenize,
)
from opensearch_spark.analysis.smallfloat import quantize_breakpoints

K1 = 1.2
B = 0.75

TABLE = "documents"
ID = "doc_id"
TEXT = "text"


def _qlit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def base_ctes(table: str = TABLE) -> str:
    """Shared CTEs: tok (doc_id, term, pos), dl, dlq (quantized), gl
    (docCount N + avgdl), tf, dfreq. ``table`` may name a prior CTE
    (e.g. a filtered corpus for reindex oracles). The token list comes
    from :func:`duckdb_tokens_expr`, so the 255-char max_token_length
    split matches the index build exactly (positions re-number over
    the split stream, as in ``tokenize``)."""
    tl = duckdb_tokens_expr("standard", col=TEXT)
    bps = quantize_breakpoints(1 << 20)
    qvals = ", ".join(f"({v})" for v in bps)
    return f"""
tok AS (
  SELECT doc_id, unnest(tl) AS term, generate_subscripts(tl, 1) - 1 AS pos
  FROM (SELECT {ID} AS doc_id, {tl} AS tl FROM {table})
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
qz(q_val) AS (VALUES {qvals}),
dlq AS (
  SELECT d.doc_id, (SELECT max(q_val) FROM qz WHERE q_val <= d.dl) AS dlq
  FROM dl d
),
gl AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
""".strip()


def _match_clause_sql(name: str, terms: Sequence[str], operator: str = "or",
                      msm: int = 0, qt_sql: str | None = None) -> str:
    """CTE ``name``(doc_id, raw) for a match clause (unrounded score).
    ``qt_sql`` overrides the term list with a subquery producing (term)."""
    if qt_sql is not None:
        qt_cte = f"{name}_qt AS ({qt_sql})"
        having = ""
        if operator == "and":
            having = f"HAVING count(DISTINCT f.term) = (SELECT count(*) FROM {name}_qt)"
        elif msm > 1:
            having = f"HAVING count(DISTINCT f.term) >= {msm}"
        return f"""
{qt_cte},
{name} AS (
  SELECT f.doc_id,
         sum(ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5)) * {K1 + 1.0!r}
             * f.tf / (f.tf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl))) AS raw
  FROM tf f
  JOIN {name}_qt USING (term)
  JOIN dfreq d USING (term)
  JOIN dlq q USING (doc_id)
  CROSS JOIN gl
  GROUP BY f.doc_id
  {having}
)""".strip()
    qt = ", ".join(f"({_qlit(t)})" for t in sorted(set(terms)))
    n_distinct = len(set(terms))
    having = ""
    if operator == "and":
        having = f"HAVING count(DISTINCT f.term) = {n_distinct}"
    elif msm > 1:
        having = f"HAVING count(DISTINCT f.term) >= {msm}"
    return f"""
{name}_qt(term) AS (VALUES {qt}),
{name} AS (
  SELECT f.doc_id,
         sum(ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5)) * {K1 + 1.0!r}
             * f.tf / (f.tf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl))) AS raw
  FROM tf f
  JOIN {name}_qt USING (term)
  JOIN dfreq d USING (term)
  JOIN dlq q USING (doc_id)
  CROSS JOIN gl
  GROUP BY f.doc_id
  {having}
)""".strip()


def _phrase_clause_sql(name: str, terms: Sequence[str]) -> str:
    """CTE ``name``(doc_id, raw) for an exact (slop=0) phrase clause."""
    assert len(terms) >= 2
    joins = []
    for i, t in enumerate(terms[1:], start=1):
        joins.append(
            f"JOIN tok t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i} "
            f"AND t{i}.term = {_qlit(t)}"
        )
    idf_terms = " + ".join(
        f"(SELECT ln(1 + (gl.n - df + 0.5) / (df + 0.5)) FROM dfreq WHERE term = {_qlit(t)})"
        for t in terms
    )
    return f"""
{name}_pf AS (
  SELECT t0.doc_id, count(*) AS pf
  FROM tok t0
  {' '.join(joins)}
  WHERE t0.term = {_qlit(terms[0])}
  GROUP BY t0.doc_id
),
{name} AS (
  SELECT p.doc_id,
         ({idf_terms}) * {K1 + 1.0!r}
           * p.pf / (p.pf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl)) AS raw
  FROM {name}_pf p
  JOIN dlq q USING (doc_id)
  CROSS JOIN gl
)""".strip()


def match_sql(query: str, operator: str = "or", msm: int = 0) -> str:
    terms = tokenize(query)
    return (
        f"WITH {base_ctes()},\n"
        + _match_clause_sql("m0", terms, operator, msm)
        + "\nSELECT doc_id, round(raw, 4) AS score FROM m0"
    )


def phrase_sql(query: str) -> str:
    terms = tokenize(query)
    if len(terms) == 1:
        return match_sql(query)
    return (
        f"WITH {base_ctes()},\n"
        + _phrase_clause_sql("p0", terms)
        + "\nSELECT doc_id, round(raw, 4) AS score FROM p0"
    )


def bool_sql(
    must: Sequence[dict] = (),
    should: Sequence[dict] = (),
    must_not: Sequence[dict] = (),
    filter_sql: str | None = None,
    msm: int | None = None,
) -> str:
    """Bool query oracle. ``must``/``should``/``must_not`` are clause specs:
    {kind: 'match'|'phrase', query, operator?, msm?}. ``filter_sql`` is an
    optional SQL predicate over the documents row (joined by doc_id)."""
    if msm is None:
        msm = 1 if (should and not must and not filter_sql) else 0
    ctes: List[str] = [base_ctes()]
    names_m, names_s, names_n = [], [], []

    def emit(prefix: str, i: int, spec: dict) -> str:
        name = f"{prefix}{i}"
        terms = tokenize(spec["query"])
        if spec.get("kind") == "phrase":
            ctes.append(_phrase_clause_sql(name, terms))
        else:
            ctes.append(
                _match_clause_sql(name, terms, spec.get("operator", "or"), spec.get("msm", 0))
            )
        return name

    for i, c in enumerate(must):
        names_m.append(emit("m", i, c))
    for i, c in enumerate(should):
        names_s.append(emit("s", i, c))
    for i, c in enumerate(must_not):
        names_n.append(emit("n", i, c))

    if names_m:
        base = names_m[0]
        from_clause = f"FROM {base}"
        for nm in names_m[1:]:
            from_clause += f" JOIN {nm} USING (doc_id)"
        score_parts = [f"{nm}.raw" for nm in names_m]
        join_kind_should = "LEFT JOIN"
    elif filter_sql:
        from_clause = f"FROM (SELECT {ID} AS doc_id FROM {TABLE} WHERE {filter_sql}) fbase"
        base = "fbase"
        score_parts = ["0.0"]
        join_kind_should = "LEFT JOIN"
    else:
        # should-only: docs matching >= msm should clauses
        base = names_s[0]
        u = " UNION ".join(f"SELECT doc_id FROM {nm}" for nm in names_s)
        from_clause = f"FROM ({u}) sbase"
        base = "sbase"
        score_parts = ["0.0"]
        join_kind_should = "LEFT JOIN"

    for nm in names_s:
        from_clause += f" {join_kind_should} {nm} ON {nm}.doc_id = {base}.doc_id"
        score_parts.append(f"coalesce({nm}.raw, 0.0)")

    where = []
    if filter_sql and names_m:
        where.append(
            f"{base}.doc_id IN (SELECT {ID} FROM {TABLE} WHERE {filter_sql})"
        )
    for nm in names_n:
        where.append(f"{base}.doc_id NOT IN (SELECT doc_id FROM {nm})")
    if names_s and msm > 0:
        matched = " + ".join(
            f"(CASE WHEN {nm}.doc_id IS NOT NULL THEN 1 ELSE 0 END)" for nm in names_s
        )
        where.append(f"({matched}) >= {msm}")
    where_clause = ("WHERE " + " AND ".join(where)) if where else ""

    score_expr = " + ".join(score_parts)
    ctes_sql = ",\n".join(ctes)
    return (
        f"WITH {ctes_sql}\n"
        f"SELECT {base}.doc_id AS doc_id, round({score_expr}, 4) AS score\n"
        f"{from_clause}\n{where_clause}"
    )


def _exp_cond(kind: str, value: str, fuzziness: int = 2,
              prefix_length: int = 0) -> str:
    if kind == "prefix":
        return f"term LIKE {_qlit(value + '%')}"
    if kind == "wildcard":
        like = value.replace("*", "%").replace("?", "_")
        return f"term LIKE {_qlit(like)}"
    if kind == "regexp":
        return f"regexp_full_match(term, {_qlit(value)})"
    if kind == "fuzzy":
        cond = f"levenshtein(term, {_qlit(value)}) <= {fuzziness}"
        if prefix_length > 0:
            cond += f" AND term LIKE {_qlit(value[:prefix_length] + '%')}"
        return cond
    raise ValueError(kind)


def _exp_cte(name: str, kind: str, value: str, fuzziness: int = 2,
             max_expansions: int = 50, prefix_length: int = 0) -> str:
    return (
        f"{name} AS (SELECT term FROM (SELECT DISTINCT term FROM dfreq "
        f"WHERE {_exp_cond(kind, value, fuzziness, prefix_length)} "
        f"ORDER BY term LIMIT {max_expansions}))"
    )


def multi_term_sql(kind: str, value: str, fuzziness: int = 2,
                   prefix_length: int = 0, max_expansions: int = 50) -> str:
    """prefix/wildcard/regexp/fuzzy: constant-score docs containing any
    dictionary expansion."""
    return (
        f"WITH {base_ctes()},\n"
        f"{_exp_cte('exp', kind, value, fuzziness, max_expansions, prefix_length)}\n"
        f"SELECT DISTINCT f.doc_id AS doc_id, 1.0 AS score\n"
        f"FROM tf f JOIN exp USING (term)"
    )


def match_bool_prefix_sql(query: str) -> str:
    """OR of fixed terms (BM25) + constant-score 1.0 prefix on the last."""
    terms = tokenize(query)
    fixed, last = terms[:-1], terms[-1]
    exp = _exp_cte("e0x", "prefix", last)
    e0 = "e0 AS (SELECT DISTINCT f.doc_id FROM tf f JOIN e0x USING (term))"
    if not fixed:
        return multi_term_sql("prefix", last)
    return (
        f"WITH {base_ctes()},\n"
        + _match_clause_sql("m0", fixed)
        + f",\n{exp},\n{e0}\n"
        + "SELECT coalesce(m0.doc_id, e0.doc_id) AS doc_id,\n"
        "       round(coalesce(m0.raw, 0.0) + (CASE WHEN e0.doc_id IS NOT NULL"
        " THEN 1.0 ELSE 0.0 END), 4) AS score\n"
        "FROM m0 FULL OUTER JOIN e0 ON m0.doc_id = e0.doc_id"
    )


def phrase_prefix_sql(query: str, max_expansions: int = 50) -> str:
    """Exact phrase whose last slot matches any prefix expansion; scored
    with idf summed over the FIXED terms (mirrors the engine contract)."""
    terms = tokenize(query)
    fixed, last = terms[:-1], terms[-1]
    if not fixed:
        return multi_term_sql("prefix", last, max_expansions=max_expansions)
    joins = []
    for i, t in enumerate(fixed[1:], start=1):
        joins.append(
            f"JOIN tok t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i} "
            f"AND t{i}.term = {_qlit(t)}"
        )
    n = len(fixed)
    joins.append(
        f"JOIN tok tl ON tl.doc_id = t0.doc_id AND tl.pos = t0.pos + {n} "
        f"AND tl.term IN (SELECT term FROM exp)"
    )
    idf_terms = " + ".join(
        f"(SELECT ln(1 + (gl.n - df + 0.5) / (df + 0.5)) FROM dfreq WHERE term = {_qlit(t)})"
        for t in fixed
    )
    return f"""
WITH {base_ctes()},
{_exp_cte('exp', 'prefix', last, max_expansions=max_expansions)},
pf AS (
  SELECT t0.doc_id, count(*) AS pf
  FROM tok t0
  {' '.join(joins)}
  WHERE t0.term = {_qlit(fixed[0])}
  GROUP BY t0.doc_id
)
SELECT p.doc_id,
       round(({idf_terms}) * {K1 + 1.0!r}
             * p.pf / (p.pf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl)), 4) AS score
FROM pf p JOIN dlq q USING (doc_id) CROSS JOIN gl
""".strip()


def mlt_sql(doc_id: int, max_query_terms: int = 10) -> str:
    """more_like_this by _id: top tf*idf terms of the doc -> OR match,
    source doc excluded."""
    qt = (
        f"SELECT s.term FROM "
        f"(SELECT term, count(*) AS tf FROM tok WHERE doc_id = {doc_id} GROUP BY term) s "
        f"JOIN dfreq d USING (term) CROSS JOIN gl "
        f"ORDER BY s.tf * ln(1 + (gl.n - d.df + 0.5) / (d.df + 0.5)) DESC, s.term ASC "
        f"LIMIT {max_query_terms}"
    )
    return (
        f"WITH {base_ctes()},\n"
        + _match_clause_sql("m0", [], qt_sql=qt)
        + f"\nSELECT doc_id, round(raw, 4) AS score FROM m0 WHERE doc_id <> {doc_id}"
    )


def term_df_sql(top_n: int = 25) -> str:
    """Top-N terms by document frequency (validates index construction)."""
    return (
        f"WITH {base_ctes()}\n"
        f"SELECT term, df, ttf FROM (\n"
        f"  SELECT f.term AS term, d.df AS df, CAST(sum(f.tf) AS BIGINT) AS ttf\n"
        f"  FROM tf f JOIN dfreq d USING (term) GROUP BY f.term, d.df\n"
        f") ORDER BY df DESC, term ASC LIMIT {top_n}"
    )


def doclen_sql() -> str:
    """Per-doc length + quantized length (validates analyzer + norms)."""
    return (
        f"WITH {base_ctes()}\n"
        f"SELECT d.doc_id AS doc_id, d.dl AS dl, q.dlq AS dl_q\n"
        f"FROM dl d JOIN dlq q USING (doc_id)"
    )


# ---- span / intervals oracles (constant-score positional matching) ---------

def span_near_sql(t1: str, t2: str, slop: int, in_order: bool = True) -> str:
    """Two-clause span_near / intervals: docs with occurrences of t1, t2
    (ordered or either order) whose gap <= slop."""
    if in_order:
        cond = f"t1.pos > t0.pos AND t1.pos - t0.pos - 1 <= {slop}"
    else:
        cond = f"t1.pos <> t0.pos AND abs(t1.pos - t0.pos) - 1 <= {slop}"
    return f"""WITH {base_ctes()}
        SELECT DISTINCT t0.doc_id AS doc_id, 1.0 AS score
        FROM tok t0
        JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.term = {_qlit(t2)} AND {cond}
        WHERE t0.term = {_qlit(t1)}"""


def span_first_sql(term: str, end: int) -> str:
    """span_first: term occurrences ending at position <= end."""
    return f"""WITH {base_ctes()}
        SELECT DISTINCT doc_id, 1.0 AS score
        FROM tok WHERE term = {_qlit(term)} AND pos + 1 <= {end}"""


def span_not_near_sql(t1: str, t2: str, slop: int, exclude: str) -> str:
    """span_not(include=span_near(t1,t2,slop,in_order), exclude=term):
    docs having at least one ordered (t1,t2) span that does NOT overlap
    any occurrence of ``exclude``. Span = [t0.pos, t1.pos + 1)."""
    return f"""WITH {base_ctes()}
        SELECT DISTINCT t0.doc_id AS doc_id, 1.0 AS score
        FROM tok t0
        JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.term = {_qlit(t2)}
            AND t1.pos > t0.pos AND t1.pos - t0.pos - 1 <= {slop}
        WHERE t0.term = {_qlit(t1)}
          AND NOT EXISTS (
            SELECT 1 FROM tok tx
            WHERE tx.doc_id = t0.doc_id AND tx.term = {_qlit(exclude)}
              AND tx.pos < t1.pos + 1 AND tx.pos + 1 > t0.pos
          )"""


def span_or_sql(terms: "Sequence[str]") -> str:
    """span_or of terms: docs containing any of them (constant score)."""
    qt = ", ".join(_qlit(t) for t in terms)
    return f"""WITH {base_ctes()}
        SELECT DISTINCT doc_id, 1.0 AS score
        FROM tok WHERE term IN ({qt})"""


def _near2_spans_cte(t1: str, t2: str, slop: int) -> str:
    """CTE ``spans``(doc_id, s, e): the engine's 2-clause in-order
    span_near spans — per final-term occurrence, the CLOSEST preceding
    first-term occurrence (minimal interval, Lucene-like), gap <= slop."""
    return f"""
pairs AS (
  SELECT t1.doc_id, max(t0.pos) AS s, t1.pos AS e1
  FROM tok t1
  JOIN tok t0 ON t0.doc_id = t1.doc_id AND t0.term = {_qlit(t1)}
             AND t0.pos + 1 <= t1.pos
  WHERE t1.term = {_qlit(t2)}
  GROUP BY t1.doc_id, t1.pos
),
spans AS (
  SELECT doc_id, s, e1 + 1 AS e FROM pairs WHERE e1 - s - 1 <= {slop}
)""".strip()


def span_within_sql(t1: str, t2: str, slop: int, little: str) -> str:
    """span_within(little=term, big=span_near(t1, t2, slop, in_order)):
    docs where a ``little`` occurrence sits inside a minimal (t1..t2)
    span."""
    return f"""WITH {base_ctes()},
{_near2_spans_cte(t1, t2, slop)}
SELECT DISTINCT s.doc_id AS doc_id, 1.0 AS score
FROM spans s
JOIN tok tx ON tx.doc_id = s.doc_id AND tx.term = {_qlit(little)}
           AND tx.pos >= s.s AND tx.pos + 1 <= s.e"""


def span_containing_sql(t1: str, t2: str, slop: int, little: str) -> str:
    """span_containing(big=span_near(t1, t2, slop), little=term): docs
    with a minimal (t1..t2) span enclosing a ``little`` occurrence.
    (Doc-level result coincides with span_within — the two operators
    differ in which spans they EMIT, which only matters for nesting.)"""
    return span_within_sql(t1, t2, slop, little)


def intervals_not_containing_sql(t1: str, t2: str, max_gaps: int,
                                 excl: str) -> str:
    """intervals match(t1 t2, ordered, max_gaps) with filter
    not_containing(excl): docs with a minimal (t1..t2) span holding NO
    ``excl`` occurrence."""
    return f"""WITH {base_ctes()},
{_near2_spans_cte(t1, t2, max_gaps)}
SELECT DISTINCT s.doc_id AS doc_id, 1.0 AS score
FROM spans s
WHERE NOT EXISTS (
  SELECT 1 FROM tok tx
  WHERE tx.doc_id = s.doc_id AND tx.term = {_qlit(excl)}
    AND tx.pos >= s.s AND tx.pos + 1 <= s.e
)"""


# ---- multi-field (multi_match) oracles -------------------------------------

def base_ctes_field(p: str, text_col: str, table: str = TABLE) -> str:
    """Suffixed per-field CTE chain (tok{p}, dl{p}, qz{p}, dlq{p},
    gl{p}, tf{p}, dfreq{p}) so two fields' — or, via ``table``, two
    INDEXES' — statistics coexist in one query: each chain has its own
    df/norms/avgdl, mirroring the engine's index-per-field layout and
    the per-index local statistics of cross-index (alias) search."""
    tl = duckdb_tokens_expr("standard", col=text_col)
    from opensearch_spark.analysis.smallfloat import quantize_breakpoints

    bps = quantize_breakpoints(1 << 20)
    qvals = ", ".join(f"({v})" for v in bps)
    return f"""
tok{p} AS (
  SELECT doc_id, unnest(tl) AS term, generate_subscripts(tl, 1) - 1 AS pos
  FROM (SELECT {ID} AS doc_id, {tl} AS tl FROM {table})
),
dl{p} AS (SELECT doc_id, count(*) AS dl FROM tok{p} GROUP BY doc_id),
qz{p}(q_val) AS (VALUES {qvals}),
dlq{p} AS (
  SELECT d.doc_id, (SELECT max(q_val) FROM qz{p} WHERE q_val <= d.dl) AS dlq
  FROM dl{p} d
),
gl{p} AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl{p}),
tf{p} AS (SELECT doc_id, term, count(*) AS tf FROM tok{p} GROUP BY doc_id, term),
dfreq{p} AS (SELECT term, count(*) AS df FROM tf{p} GROUP BY term)
""".strip()


def base_ctes_shingle(p: str, n: int) -> str:
    """Per-field CTE chain (tok{p}..dfreq{p}) for an n-gram SHINGLE
    subfield (search_as_you_type's _2gram/_3gram,
    SearchAsYouTypeFieldMapper): shingle tokens derive from the base
    ``tok`` CTE by a positional self-join, '_'-joined, carrying the
    first gram's position. Requires ``base_ctes()`` earlier in the
    WITH chain."""
    from opensearch_spark.analysis.smallfloat import quantize_breakpoints

    bps = quantize_breakpoints(1 << 20)
    qvals = ", ".join(f"({v})" for v in bps)
    parts = ["t0.term"]
    joins = []
    for i in range(1, n):
        joins.append(
            f"JOIN tok t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.pos = t0.pos + {i}")
        parts.append(f"t{i}.term")
    gram = " || '_' || ".join(parts)
    # grams longer than max_token_length are dropped on BOTH sides
    # (the engine's shingle column filters them identically): left in,
    # the indexed column's re-tokenization would 255-split the gram
    # while this positional join keeps it whole — df/dl drift
    return f"""
tok{p} AS (
  SELECT t0.doc_id, {gram} AS term, t0.pos
  FROM tok t0 {' '.join(joins)}
  WHERE length({gram}) <= {MAX_TOKEN_LENGTH}
),
dl{p} AS (SELECT doc_id, count(*) AS dl FROM tok{p} GROUP BY doc_id),
qz{p}(q_val) AS (VALUES {qvals}),
dlq{p} AS (
  SELECT d.doc_id, (SELECT max(q_val) FROM qz{p} WHERE q_val <= d.dl) AS dlq
  FROM dl{p} d
),
gl{p} AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl{p}),
tf{p} AS (SELECT doc_id, term, count(*) AS tf FROM tok{p} GROUP BY doc_id, term),
dfreq{p} AS (SELECT term, count(*) AS df FROM tf{p} GROUP BY term)
""".strip()


def _match_clause_field(p: str, name: str, terms: "Sequence[str]",
                        operator: str = "or", msm: int = 0) -> str:
    qt = ", ".join(f"({_qlit(t)})" for t in sorted(set(terms)))
    having = ""
    if operator == "and":
        having = f"HAVING count(DISTINCT f.term) = {len(set(terms))}"
    elif msm > 1:
        having = f"HAVING count(DISTINCT f.term) >= {msm}"
    return f"""
{name}_qt(term) AS (VALUES {qt}),
{name} AS (
  SELECT f.doc_id,
         sum(ln(1 + (gl{p}.n - d.df + 0.5) / (d.df + 0.5)) * {K1 + 1.0!r}
             * f.tf / (f.tf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl{p}.avgdl))) AS raw
  FROM tf{p} f
  JOIN {name}_qt USING (term)
  JOIN dfreq{p} d USING (term)
  JOIN dlq{p} q USING (doc_id)
  CROSS JOIN gl{p}
  GROUP BY f.doc_id
  {having}
)""".strip()


def multi_match_sql(query: str, fields: "Sequence[tuple]",
                    type_: str = "best_fields", tie: float = 0.0,
                    operator: str = "or") -> str:
    """multi_match oracle. ``fields`` = [(field_sql_column, suffix)].
    best_fields: max over per-field raw + tie * (sum - max);
    most_fields: sum over matched fields (>= 1 must match)."""
    terms = tokenize(query)
    ctes = [base_ctes_field(p, col) for col, p in fields]
    names = []
    for i, (_col, p) in enumerate(fields):
        nm = f"mm{i}"
        ctes.append(_match_clause_field(p, nm, terms, operator))
        names.append(nm)
    u = " UNION ".join(f"SELECT doc_id FROM {nm}" for nm in names)
    raws = [f"coalesce({nm}.raw, 0.0)" for nm in names]
    joins = " ".join(
        f"LEFT JOIN {nm} ON {nm}.doc_id = base.doc_id" for nm in names
    )
    if type_ == "most_fields":
        score = " + ".join(raws)
    else:
        best = f"greatest({', '.join(raws)})"
        total = " + ".join(raws)
        score = f"{best} + {tie!r} * (({total}) - {best})"
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT base.doc_id AS doc_id, round({score}, 4) AS score
        FROM ({u}) base {joins}"""
    )


def cross_fields_sql(query: str, fields: "Sequence[tuple]",
                     tie: float = 0.0) -> str:
    """multi_match type=cross_fields oracle. ``fields`` =
    [(column, suffix, weight)]. Mirrors the engine's blended-df
    semantics: df_blend = max over fields, per-field score with blended
    idf + own tf/norms/avgdl, per-term best-field (+ tie * rest),
    summed per doc. idf doc-count = primary (first) field's N."""
    terms = sorted(set(tokenize(query)))
    qt = ", ".join(f"({_qlit(t)})" for t in terms)
    ctes = [base_ctes_field(p, col) for col, p, _w in fields]
    p0 = fields[0][1]
    union_df = " UNION ALL ".join(
        f"SELECT term, df FROM dfreq{p} WHERE term IN (SELECT term FROM qt)"
        for _c, p, _w in fields
    )
    ctes.append(f"qt(term) AS (VALUES {qt})")
    ctes.append(f"bdf AS (SELECT term, max(df) AS df FROM ({union_df}) GROUP BY term)")
    snames = []
    for i, (_col, p, w) in enumerate(fields):
        nm = f"cf{i}"
        snames.append(nm)
        extra_gl = f"CROSS JOIN gl{p0}" if p != p0 else ""
        ctes.append(f"""
{nm} AS (
  SELECT f.doc_id, f.term,
         {w!r} * ln(1 + (gl{p0}.n - bd.df + 0.5) / (bd.df + 0.5)) * {K1 + 1.0!r}
           * f.tf / (f.tf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl{p}.avgdl)) AS s
  FROM tf{p} f
  JOIN bdf bd USING (term)
  JOIN dlq{p} q USING (doc_id)
  CROSS JOIN gl{p}
  {extra_gl}
  WHERE f.term IN (SELECT term FROM qt)
)""".strip())
    u = " UNION ALL ".join(f"SELECT * FROM {nm}" for nm in snames)
    ctes.append(
        f"pt AS (SELECT doc_id, term, max(s) AS best, sum(s) AS tot "
        f"FROM ({u}) GROUP BY doc_id, term)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT doc_id, round(sum(best + {tie!r} * (tot - best)), 4) AS score
        FROM pt GROUP BY doc_id"""
    )


def combined_fields_sql(query: str, fields: "Sequence[tuple]") -> str:
    """combined_fields (BM25F) oracle. ``fields`` = [(column, suffix,
    weight)]. tf_c = sum w*tf, dl_c = sum w*dl (exact lengths), df_c =
    distinct docs with the term in any field, N/avgdl over docs with
    dl_c > 0 — exactly the engine's combined statistics."""
    terms = sorted(set(tokenize(query)))
    qt = ", ".join(f"({_qlit(t)})" for t in terms)
    ctes = [base_ctes_field(p, col) for col, p, _w in fields]
    ctes.append(f"qt(term) AS (VALUES {qt})")
    u_tf = " UNION ALL ".join(
        f"SELECT doc_id, term, {w!r} * tf AS wtf FROM tf{p} "
        f"WHERE term IN (SELECT term FROM qt)"
        for _c, p, w in fields
    )
    ctes.append(
        f"tfc AS (SELECT doc_id, term, sum(wtf) AS tf FROM ({u_tf}) "
        f"GROUP BY doc_id, term)"
    )
    # fold per-field dl with FULL OUTER JOINs
    first = fields[0]
    from_dl = f"dl{first[1]} d0"
    dl_parts = [f"coalesce({first[2]!r} * d0.dl, 0.0)"]
    id_parts = ["d0.doc_id"]
    for i, (_c, p, w) in enumerate(fields[1:], start=1):
        from_dl += (
            f" FULL OUTER JOIN dl{p} d{i} ON d{i}.doc_id = "
            f"coalesce({', '.join(id_parts)})"
        )
        dl_parts.append(f"coalesce({w!r} * d{i}.dl, 0.0)")
        id_parts.append(f"d{i}.doc_id")
    ctes.append(
        f"dlc AS (SELECT coalesce({', '.join(id_parts)}) AS doc_id, "
        f"{' + '.join(dl_parts)} AS dl FROM {from_dl})"
    )
    ctes.append(
        "glc AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl "
        "FROM dlc WHERE dl > 0)"
    )
    ctes.append(
        "dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT t.doc_id AS doc_id,
               round(sum(ln(1 + (glc.n - d.df + 0.5) / (d.df + 0.5)) * {K1 + 1.0!r}
                     * t.tf / (t.tf + {K1!r} * (1 - {B!r} + {B!r} * l.dl / glc.avgdl))), 4) AS score
        FROM tfc t
        JOIN dfc d USING (term)
        JOIN dlc l USING (doc_id)
        CROSS JOIN glc
        GROUP BY t.doc_id"""
    )


def random_uniform_sql(seed: str, id_expr: str = "doc_id") -> str:
    """Deterministic uniform [0,1) shared with the engine's random_score:
    first 8 hex chars of md5(seed ':' docId) / 2^32."""
    return (
        f"(CAST(concat('0x', substr(md5(concat({_qlit(seed)}, ':', "
        f"CAST({id_expr} AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0)"
    )


def sloppy_phrase_sql(query: str, slop: int) -> str:
    """2-term sloppy phrase oracle — exact Lucene sloppy_freq, the same
    item/closed-form reduction the engine vectorizes
    (bm25._sloppy_2term_boundary, property-tested against the greedy
    SloppyPhraseMatcher walk in tests/test_wand.py):

    - merge both terms' phrase-offset-adjusted positions per doc;
      collapse a TIE (both terms at one adjusted position = an exact
      occurrence) into one item — a tie always emits matchLength 0 and
      flips the active label;
    - a single-term item emits iff its label differs from the previous
      item's exit label, with matchLength = gap to that item;
    - exit label closed form: lbl(last single) XOR parity(#ties since),
      0-initialised (Lucene's queue breaks the initial tie by offset).

    Weights 1/(1+matchLength) are accumulated as the exact integer
    numerator lcm(1..slop+1)//(1+w) and divided once — bitwise
    identical to the engine, no float association-order risk. Scored as
    a pseudo-term with idf = sum of constituent idfs."""
    from math import lcm

    terms = tokenize(query)
    assert len(terms) == 2, "oracle covers 2-term sloppy phrases"
    t1, t2 = terms
    assert t1 != t2, (
        "repeated-term sloppy phrases: use sloppy_phrase_repeat_sql "
        "(consecutive-pairs closed form of the repeat-group walk)")
    L = lcm(*range(1, slop + 2))
    idf_terms = " + ".join(
        f"(SELECT ln(1 + (gl.n - df + 0.5) / (df + 0.5)) FROM dfreq WHERE term = {_qlit(t)})"
        for t in terms
    )
    return f"""WITH {base_ctes()},
adj AS (
  SELECT doc_id, pos AS apos, 0 AS lbl FROM tok WHERE term = {_qlit(t1)}
  UNION ALL
  SELECT doc_id, pos - 1 AS apos, 1 AS lbl FROM tok WHERE term = {_qlit(t2)}
),
items AS (
  SELECT doc_id, apos, count(*) = 2 AS is_tie, min(lbl) AS slbl
  FROM adj GROUP BY doc_id, apos
),
st AS (
  SELECT doc_id, apos, is_tie, slbl,
         sum(CASE WHEN is_tie THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY apos
                 ROWS UNBOUNDED PRECEDING) AS cum_ties
  FROM items
),
st2 AS (
  SELECT doc_id, apos, is_tie, slbl, cum_ties,
         last_value(CASE WHEN NOT is_tie THEN slbl END IGNORE NULLS)
           OVER w AS last_lbl,
         last_value(CASE WHEN NOT is_tie THEN cum_ties END IGNORE NULLS)
           OVER w AS cum_anchor,
         lag(apos) OVER w AS papos
  FROM st
  WINDOW w AS (PARTITION BY doc_id ORDER BY apos ROWS UNBOUNDED PRECEDING)
),
st3 AS (
  SELECT doc_id, apos, is_tie, slbl, papos,
         lag((coalesce(last_lbl, 0) + cum_ties - coalesce(cum_anchor, 0)) % 2)
           OVER (PARTITION BY doc_id ORDER BY apos) AS exit_before
  FROM st2
),
pf AS (
  SELECT doc_id,
         CAST(sum(CASE
           WHEN is_tie THEN {L}
           WHEN papos IS NOT NULL AND slbl <> exit_before
                AND apos - papos <= {slop} THEN {L} // (1 + (apos - papos))
           ELSE 0 END) AS DOUBLE) / {L} AS pf
  FROM st3
  GROUP BY doc_id
  HAVING pf > 0
)
SELECT pf.doc_id AS doc_id,
       round(({idf_terms}) * {K1 + 1.0!r}
             * pf.pf / (pf.pf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl)), 4) AS score
FROM pf JOIN dlq q USING (doc_id) CROSS JOIN gl"""


def sloppy_phrase_repeat_sql(query: str, slop: int) -> str:
    """Sloppy phrase oracle for the 2-slot REPEATED-term phrase
    "t t"~slop — the repeat-group walk's provable closed form.

    With both slots on the same term, SloppyPhraseMatcher's init puts
    slot 1 on occurrence 1 (advanceRepeatGroups), and every advance of
    slot 0 onto occurrence i+1 collides with slot 1 (same token
    position), pushing slot 1 to occurrence i+2 — so the walk emits
    exactly the CONSECUTIVE occurrence pairs: for occurrences
    q0 < q1 < ..., matchLength(i) = q[i+1] - q[i] - 1, emitted iff
    <= slop, weight 1/(q[i+1] - q[i]). Property-verified against both
    the engine walk and an independent Lucene transcription in
    tests/test_wand.py (test_sloppy_rpt_two_slot_closed_form /
    test_sloppy_rpt_walk_matches_reference).

    Accumulation matches the engine bit-for-bit: integer numerators
    lcm(1..slop+1)//gap summed (BIGINT-cast — DuckDB integer sum() is
    HUGEINT), divided once as DOUBLE. Scored as a pseudo-term with
    idf = 2 * idf(term) (the engine sums idfs per phrase SLOT)."""
    from math import lcm

    terms = tokenize(query)
    assert len(terms) == 2 and terms[0] == terms[1], (
        "this oracle models the 2-slot repeated-term walk")
    t = terms[0]
    L = lcm(*range(1, slop + 2))
    idf = (f"2 * (SELECT ln(1 + (gl.n - df + 0.5) / (df + 0.5)) "
           f"FROM dfreq WHERE term = {_qlit(t)})")
    return f"""WITH {base_ctes()},
occ AS (
  SELECT doc_id, pos,
         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS npos
  FROM tok WHERE term = {_qlit(t)}
),
pf AS (
  SELECT doc_id,
         CAST(CAST(sum(CASE WHEN npos - pos - 1 <= {slop}
                       THEN {L} // (npos - pos) ELSE 0 END) AS BIGINT)
              AS DOUBLE) / {L} AS pf
  FROM occ WHERE npos IS NOT NULL
  GROUP BY doc_id
  HAVING pf > 0
)
SELECT pf.doc_id AS doc_id,
       round(({idf}) * {K1 + 1.0!r}
             * pf.pf / (pf.pf + {K1!r} * (1 - {B!r} + {B!r} * q.dlq / gl.avgdl)), 4) AS score
FROM pf JOIN dlq q USING (doc_id) CROSS JOIN gl"""


def common_terms_sql(query: str, cutoff_frequency: float) -> str:
    """common terms oracle with a DATA-DEPENDENT df split (mirrors the
    engine's _expand_common): low-freq terms (df <= cutoff * N) must
    match (OR), high-freq terms add score only when the low clause
    matched. Assumes >= 1 low-freq term exists for the chosen query."""
    terms = sorted(set(tokenize(query)))
    qt = ", ".join(f"({_qlit(t)})" for t in terms)
    lo_sql = (
        f"SELECT term FROM dfreq CROSS JOIN gl "
        f"WHERE term IN (SELECT term FROM all_qt) AND df <= {cutoff_frequency!r} * gl.n"
    )
    hi_sql = (
        f"SELECT term FROM dfreq CROSS JOIN gl "
        f"WHERE term IN (SELECT term FROM all_qt) AND df > {cutoff_frequency!r} * gl.n"
    )
    return (
        f"WITH {base_ctes()},\n"
        f"all_qt(term) AS (VALUES {qt}),\n"
        + _match_clause_sql("mlow", [], qt_sql=lo_sql) + ",\n"
        + _match_clause_sql("mhigh", [], qt_sql=hi_sql)
        + """
        SELECT mlow.doc_id AS doc_id,
               round(mlow.raw + coalesce(mhigh.raw, 0.0), 4) AS score
        FROM mlow LEFT JOIN mhigh ON mhigh.doc_id = mlow.doc_id"""
    )
