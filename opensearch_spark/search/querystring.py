"""query_string / simple_query_string parsers -> query AST.

Re-expresses the reference's Lucene-syntax parsers
(``index/query/QueryStringQueryBuilder.java:72``,
``index/search/QueryStringQueryParser.java`` and
``index/query/SimpleQueryStringBuilder.java:91``) as small
recursive-descent parsers over the engine's dataclass AST (ast.py).
The compiled tree uses only node types the engine already executes
(Bool / Match / MatchPhrase / Prefix / Wildcard / Regexp / Fuzzy /
RangeQ / Exists / MatchAll), so no new physical operators are needed.

Supported classic syntax (the widely-used subset):
  term          analyzed match on the default field
  "a b"         phrase ("a b"~N is a sloppy phrase, slop-exact)
  field:term    explicit field (field:(a b) groups)
  +term -term   required / prohibited
  AND OR NOT && || !
  (grouping)    sub-bool
  term^2        boost
  te?m ter*     wildcard (pure trailing-* becomes prefix)
  term~ term~1  fuzzy (default max edits 2)
  /rege.p/      regexp
  [a TO b]      range (inclusive); {a TO b} exclusive
  _exists_:f    exists

Occur resolution (required/prohibited/should) follows Lucene
``QueryParserBase.addClause`` exactly, including the retroactive
upgrade of the previous clause on AND and downgrade on OR under a
default AND operator.

simple_query_string follows ``SimpleQueryParser``: ``+`` and
whitespace join with the default operator, ``|`` is OR (binds looser
than AND), ``-`` negates, ``"..."`` phrase, trailing ``*`` prefix,
``~N`` fuzzy/slop, ``(...)`` groups; syntax errors never throw — bad
characters degrade to plain terms.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Optional, Tuple

from opensearch_spark.search import ast as A

_CONJ_NONE, _CONJ_AND, _CONJ_OR = 0, 1, 2
_MOD_NONE, _MOD_REQ, _MOD_NOT = 0, 1, 2


@dataclass
class _Clause:
    node: A.AnyNode
    occur: str  # "must" | "should" | "must_not"


# ---------------------------------------------------------------------------
# classic query_string
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s+
  | (?P<and>AND\b|&&)
  | (?P<or>OR\b|\|\|)
  | (?P<not>NOT\b|!)
  | (?P<plus>\+)
  | (?P<minus>-)
  | (?P<lp>\()
  | (?P<rp>\))
  | (?P<phrase>"(?:[^"\\]|\\.)*")
  | (?P<regex>/(?:[^/\\]|\\.)*/)
  | (?P<range>[\[{][^\]}]*?\sTO\s[^\]}]*?[\]}])
  | (?P<term>(?:[^\s()"+\-!/^~\[\]{}]|(?<=\S)-)+)
    """,
    re.VERBOSE,
)

_SUFFIX_RE = re.compile(r"(?P<fuzzy>~(?P<fdist>\d+(?:\.\d+)?)?)?(?P<boost>\^(?P<bval>\d+(?:\.\d+)?))?$")


class QueryStringParser:
    def __init__(self, default_field: str = "content", default_operator: str = "or"):
        self.default_field = default_field
        self.default_operator = default_operator.lower()

    def parse(self, query: str) -> A.AnyNode:
        tokens = self._lex(query)
        node, rest = self._parse_bool(tokens, 0)
        # empty parse -> MatchNoDocs (reference: QueryStringQueryParser
        # and SimpleQueryParser both yield no-docs for empty queries)
        return node if node is not None else A.MatchNone()

    # -- lexing --------------------------------------------------------

    def _lex(self, s: str) -> List[Tuple[str, str]]:
        out: List[Tuple[str, str]] = []
        i = 0
        while i < len(s):
            m = _TOKEN_RE.match(s, i)
            if not m:
                i += 1
                continue
            i = m.end()
            kind = m.lastgroup
            if kind is None:
                continue
            text = m.group(0)
            # attach ^boost / ~fuzz suffixes to phrase/term/group tokens
            if kind in ("phrase", "term", "regex", "range", "rp"):
                sm = _SUFFIX_RE.match(s, i)
                if sm and sm.group(0):
                    i = sm.end()
                    out.append((kind, text))
                    if sm.group("fuzzy"):
                        out.append(("suffix_fuzzy", sm.group("fdist") or ""))
                    if sm.group("boost"):
                        out.append(("suffix_boost", sm.group("bval")))
                    continue
            out.append((kind, text))
        return out

    # -- grammar -------------------------------------------------------

    def _parse_bool(self, toks: List[Tuple[str, str]], i: int,
                    field: Optional[str] = None, depth: int = 0
                    ) -> Tuple[Optional[A.AnyNode], int]:
        clauses: List[_Clause] = []
        conj, mods = _CONJ_NONE, _MOD_NONE
        while i < len(toks):
            kind, text = toks[i]
            if kind == "and":
                conj = _CONJ_AND
                i += 1
                continue
            if kind == "or":
                conj = _CONJ_OR
                i += 1
                continue
            if kind == "not":
                mods = _MOD_NOT
                i += 1
                continue
            if kind == "plus":
                mods = _MOD_REQ
                i += 1
                continue
            if kind == "minus":
                mods = _MOD_NOT
                i += 1
                continue
            if kind == "rp":
                if depth > 0:
                    i += 1
                    break
                i += 1
                continue
            if kind == "lp":
                sub, i = self._parse_bool(toks, i + 1, field, depth + 1)
                sub, i = self._apply_suffixes(sub, toks, i)
                if sub is not None:
                    self._add_clause(clauses, sub, conj, mods)
                conj, mods = _CONJ_NONE, _MOD_NONE
                continue
            if kind in ("phrase", "term", "regex", "range"):
                node, i = self._parse_leaf(toks, i, field)
                node, i = self._apply_suffixes(node, toks, i)
                if node is not None:
                    self._add_clause(clauses, node, conj, mods)
                conj, mods = _CONJ_NONE, _MOD_NONE
                continue
            i += 1  # unknown -> skip
        return self._build(clauses), i

    def _parse_leaf(self, toks, i, field) -> Tuple[Optional[A.AnyNode], int]:
        kind, text = toks[i]
        i += 1
        if kind == "phrase":
            body = text[1:-1].replace('\\"', '"')
            return A.MatchPhrase(field_name=field or self.default_field, query=body), i
        if kind == "regex":
            body = text[1:-1].replace("\\/", "/")
            return A.Regexp(field_name=field or self.default_field, value=body), i
        if kind == "range":
            return self._range(text, field or self.default_field), i
        # term: may be "field:rest" or "field:" followed by group/leaf
        if ":" in text and field is None:
            fname, rest = text.split(":", 1)
            if fname == "_exists_":
                return A.Exists(field_name=rest), i
            if rest == "":
                if i < len(toks) and toks[i][0] == "lp":
                    return self._parse_group_for_field(toks, i, fname)
                if i < len(toks) and toks[i][0] in ("phrase", "regex", "range"):
                    return self._parse_leaf(toks, i, fname)
                return None, i
            return self._term_node(rest, fname), i
        return self._term_node(text, field or self.default_field), i

    def _parse_group_for_field(self, toks, i, fname):
        sub, j = self._parse_bool(toks, i + 1, fname, depth=1)
        return sub, j

    def _apply_suffixes(self, node, toks, i):
        while node is not None and i < len(toks) and toks[i][0] in (
            "suffix_fuzzy", "suffix_boost"
        ):
            kind, val = toks[i]
            i += 1
            if kind == "suffix_boost":
                node.boost = node.boost * float(val)
            elif kind == "suffix_fuzzy":
                if isinstance(node, A.Match):
                    # single analyzed term with ~ -> fuzzy
                    dist = int(float(val)) if val else 2
                    node = A.Fuzzy(field_name=node.field_name, value=node.query,
                                   fuzziness=dist, boost=node.boost)
                elif isinstance(node, A.MatchPhrase):
                    node.slop = int(float(val)) if val else 0
        return node, i

    def _term_node(self, text: str, field: str) -> A.AnyNode:
        if "*" in text or "?" in text:
            if text.endswith("*") and "*" not in text[:-1] and "?" not in text:
                return A.Prefix(field_name=field, value=text[:-1].lower())
            return A.Wildcard(field_name=field, value=text.lower())
        return A.Match(field_name=field, query=text,
                       operator=self.default_operator)

    def _range(self, text: str, field: str) -> A.RangeQ:
        lo_inc = text[0] == "["
        hi_inc = text[-1] == "]"
        body = text[1:-1]
        lo, hi = re.split(r"\sTO\s", body, maxsplit=1)
        lo, hi = lo.strip(), hi.strip()

        def val(x: str):
            if x in ("*", ""):
                return None
            try:
                f = float(x)
                return int(f) if f.is_integer() and "." not in x else f
            except ValueError:
                return x

        node = A.RangeQ(field_name=field)
        if val(lo) is not None:
            if lo_inc:
                node.gte = val(lo)
            else:
                node.gt = val(lo)
        if val(hi) is not None:
            if hi_inc:
                node.lte = val(hi)
            else:
                node.lt = val(hi)
        return node

    # -- Lucene addClause occur resolution ------------------------------

    def _add_clause(self, clauses: List[_Clause], node: A.AnyNode,
                    conj: int, mods: int) -> None:
        # retroactive adjustment of the PREVIOUS clause (QueryParserBase)
        if clauses and conj == _CONJ_AND:
            prev = clauses[-1]
            if prev.occur != "must_not":
                prev.occur = "must"
        if clauses and self.default_operator == "and" and conj == _CONJ_OR:
            prev = clauses[-1]
            if prev.occur != "must_not":
                prev.occur = "should"
        if mods == _MOD_NOT:
            clauses.append(_Clause(node, "must_not"))
            return
        if self.default_operator == "or":
            required = mods == _MOD_REQ or conj == _CONJ_AND
        else:
            required = conj != _CONJ_OR
        clauses.append(_Clause(node, "must" if required else "should"))

    def _build(self, clauses: List[_Clause]) -> Optional[A.AnyNode]:
        if not clauses:
            return None
        if len(clauses) == 1 and clauses[0].occur in ("must", "should"):
            return clauses[0].node
        b = A.Bool()
        for c in clauses:
            getattr(b, c.occur if c.occur != "must_not" else "must_not").append(c.node)
        return b


# ---------------------------------------------------------------------------
# simple_query_string
# ---------------------------------------------------------------------------

_SQS_TOKEN_RE = re.compile(
    r"""
    \s+
  | (?P<or>\|)
  | (?P<and>\+)
  | (?P<not>-)
  | (?P<lp>\()
  | (?P<rp>\))
  | (?P<phrase>"(?:[^"\\]|\\.)*"(?:~\d+)?)
  | (?P<term>[^\s()|+\-"]+)
    """,
    re.VERBOSE,
)


class SimpleQueryStringParser:
    """``SimpleQueryParser`` subset: never throws; ``|`` binds looser than
    the implicit/explicit AND joins; ``-`` negates the next atom."""

    def __init__(self, field: str = "content", default_operator: str = "or"):
        self.field = field
        self.default_operator = default_operator.lower()

    def parse(self, query: str) -> A.AnyNode:
        toks = [
            (m.lastgroup, m.group(0))
            for m in _SQS_TOKEN_RE.finditer(query)
            if m.lastgroup
        ]
        node, _ = self._parse_or(toks, 0, depth=0)
        # empty parse -> MatchNoDocs (reference: QueryStringQueryParser
        # and SimpleQueryParser both yield no-docs for empty queries)
        return node if node is not None else A.MatchNone()

    def _parse_or(self, toks, i, depth) -> Tuple[Optional[A.AnyNode], int]:
        groups: List[A.AnyNode] = []
        cur, i = self._parse_and(toks, i, depth)
        if cur is not None:
            groups.append(cur)
        while i < len(toks) and toks[i][0] == "or":
            cur, i = self._parse_and(toks, i + 1, depth)
            if cur is not None:
                groups.append(cur)
        if not groups:
            return None, i
        if len(groups) == 1:
            return groups[0], i
        return A.Bool(should=groups, minimum_should_match=1), i

    def _parse_and(self, toks, i, depth) -> Tuple[Optional[A.AnyNode], int]:
        pos: List[A.AnyNode] = []
        neg: List[A.AnyNode] = []
        negate_next = False
        saw_plus = False
        while i < len(toks):
            kind, text = toks[i]
            if kind == "or":
                break
            if kind == "rp":
                if depth > 0:
                    i += 1
                break
            if kind == "and":
                saw_plus = True
                i += 1
                continue
            if kind == "not":
                negate_next = True
                i += 1
                continue
            if kind == "lp":
                sub, i = self._parse_or(toks, i + 1, depth + 1)
                if sub is not None:
                    (neg if negate_next else pos).append(sub)
                negate_next = False
                continue
            node = self._atom(kind, text)
            i += 1
            if node is not None:
                (neg if negate_next else pos).append(node)
            negate_next = False
        if not pos and not neg:
            return None, i
        join_must = saw_plus or self.default_operator == "and" or len(pos) <= 1
        if not neg and len(pos) == 1:
            return pos[0], i
        b = A.Bool(must_not=neg)
        if join_must or len(pos) <= 1:
            b.must = pos
        else:
            b.should = pos
            b.minimum_should_match = 1
        return b, i

    def _atom(self, kind: str, text: str) -> Optional[A.AnyNode]:
        if kind == "phrase":
            m = re.match(r'"((?:[^"\\]|\\.)*)"(?:~(\d+))?$', text)
            body = m.group(1).replace('\\"', '"') if m else text.strip('"')
            slop = int(m.group(2)) if m and m.group(2) else 0
            return A.MatchPhrase(field_name=self.field, query=body, slop=slop)
        # term: trailing * -> prefix; ~N -> fuzzy
        fm = re.match(r"(.+?)~(\d+)$", text)
        if fm:
            return A.Fuzzy(field_name=self.field, value=fm.group(1).lower(),
                           fuzziness=int(fm.group(2)))
        if text.endswith("*") and len(text) > 1:
            return A.Prefix(field_name=self.field, value=text[:-1].lower())
        return A.Match(field_name=self.field, query=text,
                       operator=self.default_operator)


def parse_query_string(query: str, default_field: str = "content",
                       default_operator: str = "or") -> A.AnyNode:
    return QueryStringParser(default_field, default_operator).parse(query)


def parse_simple_query_string(query: str, field: str = "content",
                              default_operator: str = "or") -> A.AnyNode:
    return SimpleQueryStringParser(field, default_operator).parse(query)
