"""Query-DSL JSON -> AST parser + logical normalization.

Accepts the OpenSearch search-DSL subset (SURVEY.md §2.2-2.4): match,
match_phrase, bool, term, terms, range, exists, ids, match_all,
match_none, constant_score, dis_max. Shorthand and object forms both
supported, e.g.::

    {"match": {"content": "import numpy"}}
    {"match": {"content": {"query": "a b", "operator": "and", "boost": 2}}}

Normalization mirrors the reference's query rewriters
(``search/query/rewriters/*`` — boolean flattening, match_all removal):
- single-clause bool { must: [X] } with no other clauses -> X
- match_all dropped from must/filter when other clauses exist
- match_none anywhere in must/filter -> whole bool is match_none
"""

from __future__ import annotations

from typing import Any

from opensearch_spark.search import ast as A


def script_source(spec) -> str:
    """Resolve a script spec to a Spark SQL expression. A plain string
    or {"source": ...} is treated as SQL (the engine's native script
    language); {"lang": "painless", "source": ..., "params": {...}}
    transpiles the Painless expression subset to SQL
    (search/painless.py), so the reference's single-expression scripts
    run verbatim."""
    if spec is None:
        raise ValueError("script spec is missing")
    if not isinstance(spec, dict):
        return str(spec)
    if "source" not in spec:
        raise KeyError("source")
    src = str(spec["source"])
    if str(spec.get("lang", "")).lower() == "painless":
        from opensearch_spark.search.painless import painless_to_sql

        return painless_to_sql(src, spec.get("params") or {})
    return src


def parse(dsl: dict) -> A.AnyNode:
    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise ValueError(f"query must be a single-key dict, got: {dsl!r}")
    kind, body = next(iter(dsl.items()))
    fn = _PARSERS.get(kind)
    if fn is None:
        raise ValueError(f"unsupported query type: {kind}")
    return normalize(fn(body))


def _field_body(body: dict) -> tuple[str, Any]:
    if not isinstance(body, dict) or len(body) != 1:
        raise ValueError(f"expected {{field: ...}}, got {body!r}")
    return next(iter(body.items()))


def _parse_match(body: dict) -> A.Match:
    fld, spec = _field_body(body)
    if isinstance(spec, dict):
        return A.Match(
            field_name=fld,
            query=str(spec["query"]),
            operator=str(spec.get("operator", "or")).lower(),
            minimum_should_match=int(spec.get("minimum_should_match", 0)),
            zero_terms_query=str(spec.get("zero_terms_query", "none")).lower(),
            boost=float(spec.get("boost", 1.0)),
        )
    return A.Match(field_name=fld, query=str(spec))


def _parse_match_phrase(body: dict) -> A.MatchPhrase:
    fld, spec = _field_body(body)
    if isinstance(spec, dict):
        return A.MatchPhrase(
            field_name=fld,
            query=str(spec["query"]),
            slop=int(spec.get("slop", 0)),
            boost=float(spec.get("boost", 1.0)),
        )
    return A.MatchPhrase(field_name=fld, query=str(spec))


def _clauses(x) -> list:
    if x is None:
        return []
    if isinstance(x, dict):
        return [parse(x)]
    return [parse(c) for c in x]


def _parse_bool(body: dict) -> A.Bool:
    msm = body.get("minimum_should_match")
    return A.Bool(
        must=_clauses(body.get("must")),
        filter=_clauses(body.get("filter")),
        should=_clauses(body.get("should")),
        must_not=_clauses(body.get("must_not")),
        minimum_should_match=int(msm) if msm is not None else None,
        boost=float(body.get("boost", 1.0)),
    )


def _parse_term(body: dict) -> A.TermQ:
    fld, spec = _field_body(body)
    if isinstance(spec, dict):
        return A.TermQ(field_name=fld, value=spec["value"], boost=float(spec.get("boost", 1.0)))
    return A.TermQ(field_name=fld, value=spec)


def _parse_terms(body: dict) -> A.TermsQ:
    body = dict(body)
    body.pop("boost", None)
    fld, vals = _field_body(body)
    if isinstance(vals, dict):
        # terms lookup (reference: TermsLookup.java): values come from
        # another document's field
        return A.TermsQ(field_name=fld, lookup={
            "id": int(vals["id"]), "path": str(vals["path"]),
        })
    return A.TermsQ(field_name=fld, values=list(vals))


def _parse_range(body: dict) -> A.RangeQ:
    fld, spec = _field_body(body)
    return A.RangeQ(
        field_name=fld,
        gte=spec.get("gte"), gt=spec.get("gt"),
        lte=spec.get("lte"), lt=spec.get("lt"),
        boost=float(spec.get("boost", 1.0)),
    )


# meters per unit, matched LONGEST SUFFIX FIRST so 'nmi' never
# mis-dispatches to 'mi' nor 'cm' to 'm' (reference:
# common/unit/DistanceUnit.java's unit table)
DISTANCE_UNITS_M = [
    ("nmi", 1852.0), ("km", 1000.0), ("mi", 1609.344), ("yd", 0.9144),
    ("ft", 0.3048), ("in", 0.0254), ("cm", 0.01), ("mm", 0.001),
    ("m", 1.0),
]

# request keys that are OPTIONS, not the geo field name, in geo queries
_GEO_OPTION_KEYS = {
    "distance", "distance_type", "validation_method", "ignore_unmapped",
    "_name", "boost", "unit", "type",
}


def parse_distance_m(v) -> float:
    """'200km' / '5000m' / '3nmi' / bare number (meters)."""
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).strip().lower()
    for suf, mul in DISTANCE_UNITS_M:
        if s.endswith(suf):
            return float(s[: -len(suf)]) * mul
    return float(s)


def _parse_geo_point(p) -> tuple:
    """{"lat","lon"} dict | [lon, lat] array | "lat,lon" string —
    the reference's three accepted geo_point formats."""
    if isinstance(p, dict):
        return float(p["lat"]), float(p["lon"])
    if isinstance(p, (list, tuple)):
        return float(p[1]), float(p[0])   # GeoJSON order: [lon, lat]
    lat, lon = str(p).split(",")
    return float(lat), float(lon)


def _geo_field(body: dict) -> tuple:
    spec = {k: v for k, v in body.items() if k not in _GEO_OPTION_KEYS}
    if len(spec) != 1:
        raise ValueError(f"geo query needs exactly one field, got {list(spec)}")
    ((fld, val),) = spec.items()
    return fld, val


def _parse_geo_distance(body: dict) -> "A.GeoDistanceQ":
    fld, point = _geo_field(body)
    lat, lon = _parse_geo_point(point)
    return A.GeoDistanceQ(
        field_name=fld, lat=lat, lon=lon,
        distance_m=parse_distance_m(body["distance"]),
        boost=float(body.get("boost", 1.0)),
    )


def _parse_geo_polygon(body: dict) -> "A.GeoPolygonQ":
    """reference: GeoPolygonQueryBuilder — {"field": {"points": [...]}}
    with each point in any of the three geo_point formats; a closing
    vertex equal to the first is accepted and dropped."""
    fld, spec = _geo_field(body)
    pts = [_parse_geo_point(p) for p in spec["points"]]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise ValueError("geo_polygon needs at least 3 distinct points")
    return A.GeoPolygonQ(
        field_name=fld, points=pts, boost=float(body.get("boost", 1.0))
    )


def _parse_geo_shape(body: dict) -> "A.AnyNode":
    """reference: GeoShapeQueryBuilder — shape-relation queries. The
    engine's geo fields are points, so the supported shapes are the
    ones with a point-vs-shape meaning: ``envelope`` (bbox),
    ``polygon``, ``circle`` and ``point`` (exact cell). ``relation``
    intersects/within coincide for point docs; ``disjoint`` negates.
    (GeoJSON coordinate order: [lon, lat].)"""
    fld, spec = _geo_field(body)
    shape = spec["shape"]
    relation = str(spec.get("relation", "intersects")).lower()
    boost = float(body.get("boost", 1.0))
    stype = str(shape["type"]).lower()
    coords = shape.get("coordinates")

    def _ring(raw) -> list:
        # GeoJSON ring: [lon, lat] pairs, closing vertex dropped; same
        # >=3-distinct-vertex contract as _parse_geo_polygon.
        ring = [(float(p[1]), float(p[0])) for p in raw]
        if len(ring) > 1 and ring[0] == ring[-1]:
            ring = ring[:-1]
        if len(ring) < 3:
            raise ValueError("geo_shape polygon ring needs at least 3 "
                             "distinct points")
        return ring

    if stype == "envelope":
        # GeoJSON envelope: [[minLon, maxLat], [maxLon, minLat]]
        (l, t), (r, b) = coords
        node: A.AnyNode = A.GeoBoundingBoxQ(
            field_name=fld, top=float(t), left=float(l),
            bottom=float(b), right=float(r),
        )
    elif stype == "polygon":
        # coords[0] = outer ring, coords[1:] = holes (GeoJSON). A point
        # is in the shape iff inside the outer ring and in no hole.
        node = A.GeoPolygonQ(field_name=fld, points=_ring(coords[0]))
        if len(coords) > 1:
            node = A.Bool(
                must=[node],
                must_not=[A.GeoPolygonQ(field_name=fld, points=_ring(h))
                          for h in coords[1:]],
            )
    elif stype == "circle":
        lon, lat = coords
        node = A.GeoDistanceQ(
            field_name=fld, lat=float(lat), lon=float(lon),
            distance_m=parse_distance_m(shape.get("radius", "0m")),
        )
    elif stype == "point":
        lon, lat = coords
        eps = 1e-9
        node = A.GeoBoundingBoxQ(
            field_name=fld, top=float(lat) + eps, left=float(lon) - eps,
            bottom=float(lat) - eps, right=float(lon) + eps,
        )
    else:
        raise ValueError(f"unsupported geo_shape type: {stype}")
    node.boost = boost
    if relation == "disjoint":
        # reference GeoShapeQueryBuilder: disjoint only matches docs
        # that HAVE an indexed geo value — docs missing the field never
        # match, so the negation is anchored on field existence.
        return A.Bool(
            must=[A.Exists(field_name=f"{fld}.lat"),
                  A.Exists(field_name=f"{fld}.lon")],
            must_not=[node], boost=boost,
        )
    if relation in ("intersects", "within"):
        return node
    raise ValueError(f"unsupported geo_shape relation: {relation}")


def _parse_geo_bbox(body: dict) -> "A.GeoBoundingBoxQ":
    fld, box = _geo_field(body)
    tl_lat, tl_lon = _parse_geo_point(box["top_left"])
    br_lat, br_lon = _parse_geo_point(box["bottom_right"])
    return A.GeoBoundingBoxQ(
        field_name=fld, top=tl_lat, left=tl_lon,
        bottom=br_lat, right=br_lon,
        boost=float(body.get("boost", 1.0)),
    )


def _parse_mtq(cls, value_key="value", **extra):
    def p(body):
        fld, spec = _field_body(body)
        if isinstance(spec, dict):
            kw = dict(
                field_name=fld,
                boost=float(spec.get("boost", 1.0)),
                max_expansions=int(spec.get("max_expansions", 50)),
            )
            kw[extra.get("attr", "value")] = str(spec[value_key])
            if cls is A.Fuzzy and "fuzziness" in spec:
                kw["fuzziness"] = int(spec["fuzziness"])
            if cls is A.Fuzzy and "prefix_length" in spec:
                kw["prefix_length"] = int(spec["prefix_length"])
            return cls(**kw)
        kw = {"field_name": fld, extra.get("attr", "value"): str(spec)}
        return cls(**kw)
    return p


def _parse_mlt(body: dict) -> A.MoreLikeThis:
    fields = body.get("fields", [])
    like = body["like"]
    node = A.MoreLikeThis(
        field_name=fields[0] if fields else "",
        max_query_terms=int(body.get("max_query_terms", 10)),
        include=bool(body.get("include", False)),
        boost=float(body.get("boost", 1.0)),
    )
    if isinstance(like, dict) and "_id" in like:
        node.like_doc_id = int(like["_id"])
    else:
        node.like_text = str(like)
    return node


def _parse_span(dsl: dict) -> A.AnyNode:
    """Span-family sub-parser (span clauses may only nest span queries,
    matching the reference's SpanQueryBuilder contract)."""
    ((kind, body),) = dsl.items()
    if kind == "span_term":
        fld, spec = _field_body(body)
        if isinstance(spec, dict):
            return A.SpanTerm(field_name=fld, value=str(spec["value"]),
                              boost=float(spec.get("boost", 1.0)))
        return A.SpanTerm(field_name=fld, value=str(spec))
    if kind == "span_near":
        return A.SpanNear(
            clauses=[_parse_span(c) for c in body["clauses"]],
            slop=int(body.get("slop", 0)),
            in_order=bool(body.get("in_order", True)),
            boost=float(body.get("boost", 1.0)),
        )
    if kind == "span_or":
        return A.SpanOr(clauses=[_parse_span(c) for c in body["clauses"]],
                        boost=float(body.get("boost", 1.0)))
    if kind == "span_first":
        return A.SpanFirst(match=_parse_span(body["match"]),
                           end=int(body["end"]),
                           boost=float(body.get("boost", 1.0)))
    if kind == "span_not":
        return A.SpanNot(include=_parse_span(body["include"]),
                         exclude=_parse_span(body["exclude"]),
                         boost=float(body.get("boost", 1.0)))
    if kind == "span_within":
        return A.SpanWithin(little=_parse_span(body["little"]),
                            big=_parse_span(body["big"]),
                            boost=float(body.get("boost", 1.0)))
    if kind == "span_containing":
        return A.SpanContaining(little=_parse_span(body["little"]),
                                big=_parse_span(body["big"]),
                                boost=float(body.get("boost", 1.0)))
    if kind == "span_multi":
        return A.SpanMulti(match=parse(body["match"]),
                           boost=float(body.get("boost", 1.0)))
    if kind in ("field_masking_span", "span_field_masking"):
        # reference: FieldMaskingSpanQueryBuilder — valid anywhere a
        # span clause is (its primary use is inside span_near); single
        # indexed text field makes the mask the identity here.
        return _parse_span(body["query"])
    raise ValueError(f"unsupported span query: {kind}")


def _parse_intervals(body: dict) -> A.Intervals:
    fld, spec = _field_body(body)

    def filt(b: dict):
        """Containment filters (reference: IntervalsSourceProvider
        IntervalFilter): {"containing"|"contained_by"|"not_containing"|
        "not_contained_by"|"not_overlapping": <rule>}."""
        f = b.get("filter")
        if not f:
            return None
        ((fk, fr),) = f.items()
        if fk not in ("containing", "contained_by", "not_containing",
                      "not_contained_by", "not_overlapping"):
            raise ValueError(f"unsupported intervals filter: {fk}")
        return (fk, rule(fr))

    def rule(s: dict):
        ((k, b),) = {k: v for k, v in s.items() if k != "boost"}.items()
        if k == "match":
            from opensearch_spark.analysis.analyzer import tokenize

            return ("match", tokenize(str(b["query"])),
                    int(b.get("max_gaps", -1)), bool(b.get("ordered", False)),
                    filt(b))
        if k == "all_of":
            return ("all_of", [rule(x) for x in b["intervals"]],
                    int(b.get("max_gaps", -1)), bool(b.get("ordered", False)),
                    filt(b))
        if k == "any_of":
            return ("any_of", [rule(x) for x in b["intervals"]])
        if k == "prefix":
            # reference: IntervalsSourceProvider.Prefix — expanded
            # against the term dictionary at compile time (engine)
            return ("prefix", str(b["prefix"]).lower())
        if k == "wildcard":
            return ("wildcard", str(b["pattern"]).lower())
        if k == "fuzzy":
            return ("fuzzy", str(b["term"]).lower(),
                    int(b.get("fuzziness", 2)))
        raise ValueError(f"unsupported intervals source: {k}")

    return A.Intervals(field_name=fld, rule=rule(spec),
                       boost=float(spec.get("boost", 1.0)))


_FN_KINDS = ("field_value_factor", "script_score", "random_score",
             "gauss", "exp", "linear", "weight")


def _parse_one_function(spec: dict) -> dict:
    """One score-function spec -> {"kind", "params", "weight", "filter"}."""
    fn = {"kind": None, "params": {}, "weight": float(spec.get("weight", 1.0)),
          "filter": parse(spec["filter"]) if "filter" in spec else None}
    for k in _FN_KINDS:
        if k in spec:
            fn["kind"] = k
            body = spec[k]
            if k in ("gauss", "exp", "linear"):
                # {"field": {"origin", "scale", "offset", "decay"}}
                ((fld, p),) = body.items()
                fn["params"] = {
                    "field": fld,
                    "origin": float(p["origin"]),
                    "scale": float(p["scale"]),
                    "offset": float(p.get("offset", 0.0)),
                    "decay": float(p.get("decay", 0.5)),
                }
            elif k == "field_value_factor":
                fn["params"] = {
                    "field": body["field"],
                    "factor": float(body.get("factor", 1.0)),
                    "modifier": str(body.get("modifier", "none")).lower(),
                    "missing": body.get("missing"),
                }
            elif k == "script_score":
                fn["params"] = {"source": script_source(body["script"])}
            elif k == "random_score":
                fn["params"] = {"seed": str(body.get("seed", 0)) if body else "0"}
            elif k == "weight":
                fn["weight"] = float(body)
                fn["params"] = {}
            break
    if fn["kind"] is None:
        fn["kind"] = "weight"
    return fn


def _parse_function_score(b: dict) -> A.FunctionScore:
    if "functions" in b:
        fns = [_parse_one_function(s) for s in b["functions"]]
    else:
        fns = [_parse_one_function(b)] if any(k in b for k in _FN_KINDS) else []
    return A.FunctionScore(
        query=parse(b["query"]) if "query" in b else A.MatchAll(),
        functions=fns,
        score_mode=str(b.get("score_mode", "multiply")).lower(),
        boost_mode=str(b.get("boost_mode", "multiply")).lower(),
        min_score=(float(b["min_score"]) if "min_score" in b else None),
        boost=float(b.get("boost", 1.0)),
    )


def _parse_fields_boosts(fields: list) -> tuple[list, list]:
    """["title^3", "body"] -> (["title", "body"], [3.0, 1.0]) — the
    caret per-field boost syntax (reference: parseFieldsAndWeights)."""
    names, boosts = [], []
    for f in fields:
        if "^" in f:
            name, _, w = f.rpartition("^")
            names.append(name)
            boosts.append(float(w))
        else:
            names.append(f)
            boosts.append(1.0)
    return names, boosts


def _parse_rank_feature(b: dict) -> A.RankFeature:
    node = A.RankFeature(field_name=str(b["field"]),
                         boost=float(b.get("boost", 1.0)))
    if "log" in b:
        node.function = "log"
        node.scaling_factor = float(b["log"].get("scaling_factor", 1.0))
    elif "sigmoid" in b:
        node.function = "sigmoid"
        node.pivot = float(b["sigmoid"]["pivot"])
        node.exponent = float(b["sigmoid"].get("exponent", 1.0))
    else:
        node.function = "saturation"
        node.pivot = float(b.get("saturation", {}).get("pivot", 1.0))
    return node


def _parse_wrapper(b: dict) -> A.AnyNode:
    """wrapper query (reference: WrapperQueryBuilder): base64-encoded
    JSON query body."""
    import base64
    import json as _json

    raw = b["query"] if isinstance(b, dict) else b
    return parse(_json.loads(base64.b64decode(raw)))


def _parse_query_string(body: dict) -> A.AnyNode:
    """Lucene classic syntax (reference: QueryStringQueryBuilder)."""
    from opensearch_spark.search.querystring import parse_query_string

    if isinstance(body, str):
        body = {"query": body}
    return parse_query_string(
        str(body["query"]),
        default_field=str(body.get("default_field", "content")),
        default_operator=str(body.get("default_operator", "or")).lower(),
    )


def _parse_simple_query_string(body: dict) -> A.AnyNode:
    """Lenient syntax (reference: SimpleQueryStringBuilder)."""
    from opensearch_spark.search.querystring import parse_simple_query_string

    if isinstance(body, str):
        body = {"query": body}
    fields = body.get("fields") or ["content"]
    return parse_simple_query_string(
        str(body["query"]),
        field=str(fields[0]),
        default_operator=str(body.get("default_operator", "or")).lower(),
    )


_PARSERS = {
    "match": _parse_match,
    "match_phrase": _parse_match_phrase,
    "prefix": _parse_mtq(A.Prefix),
    "wildcard": _parse_mtq(A.Wildcard),
    "regexp": _parse_mtq(A.Regexp),
    "fuzzy": _parse_mtq(A.Fuzzy),
    "match_bool_prefix": lambda b: (lambda f, s: A.MatchBoolPrefix(
        field_name=f, query=str(s["query"] if isinstance(s, dict) else s)
    ))(*_field_body(b)),
    "match_phrase_prefix": lambda b: (lambda f, s: A.MatchPhrasePrefix(
        field_name=f,
        query=str(s["query"] if isinstance(s, dict) else s),
        max_expansions=int(s.get("max_expansions", 50)) if isinstance(s, dict) else 50,
    ))(*_field_body(b)),
    "more_like_this": _parse_mlt,
    "function_score": lambda b: _parse_function_score(b),
    "rank_feature": lambda b: _parse_rank_feature(b),
    "pinned": lambda b: A.Pinned(
        ids=[int(v) for v in b["ids"]],
        organic=parse(b["organic"]),
        boost=float(b.get("boost", 1.0)),
    ),
    "wrapper": lambda b: _parse_wrapper(b),
    "distance_feature": lambda b: A.DistanceFeature(
        field_name=str(b["field"]),
        origin=float(b["origin"]),
        pivot=float(b["pivot"]),
        boost=float(b.get("boost", 1.0)),
    ),
    "boosting": lambda b: A.Boosting(
        positive=parse(b["positive"]),
        negative=parse(b["negative"]),
        negative_boost=float(b.get("negative_boost", 0.5)),
        boost=float(b.get("boost", 1.0)),
    ),
    "nested": lambda b: A.Nested(
        path=str(b["path"]),
        query=parse(b["query"]),
        score_mode=str(b.get("score_mode", "avg")).lower(),
        boost=float(b.get("boost", 1.0)),
    ),
    "terms_set": lambda b: (lambda f, s: A.TermsSetQ(
        field_name=f,
        terms=[str(t) for t in s["terms"]],
        required=int(s.get("minimum_should_match",
                           s.get("required_matches", 1))),
        boost=float(s.get("boost", 1.0)),
    ))(*_field_body(b)),
    "script": lambda b: A.ScriptQ(
        source=script_source(b.get("script")),
        boost=float(b.get("boost", 1.0)),
    ),
    "common": lambda b: (lambda f, s: A.CommonTerms(
        field_name=f,
        query=str(s["query"] if isinstance(s, dict) else s),
        cutoff_frequency=float(s.get("cutoff_frequency", 0.01))
        if isinstance(s, dict) else 0.01,
        low_freq_operator=str(s.get("low_freq_operator", "or")).lower()
        if isinstance(s, dict) else "or",
        high_freq_operator=str(s.get("high_freq_operator", "or")).lower()
        if isinstance(s, dict) else "or",
        minimum_should_match=int(s.get("minimum_should_match", 0))
        if isinstance(s, dict) else 0,
        boost=float(s.get("boost", 1.0)) if isinstance(s, dict) else 1.0,
    ))(*_field_body(b)),
    "multi_match": lambda b: (lambda names, boosts: A.MultiMatch(
        fields=names,
        field_boosts=boosts,
        query=str(b["query"]),
        type=str(b.get("type", "best_fields")).lower(),
        tie_breaker=float(b.get("tie_breaker", 0.0)),
        operator=str(b.get("operator", "or")).lower(),
        minimum_should_match=int(b.get("minimum_should_match", 0)),
        boost=float(b.get("boost", 1.0)),
    ))(*_parse_fields_boosts(b.get("fields") or [])),
    "combined_fields": lambda b: (lambda names, boosts: A.CombinedFields(
        fields=names,
        field_boosts=boosts,
        query=str(b["query"]),
        operator=str(b.get("operator", "or")).lower(),
        minimum_should_match=int(b.get("minimum_should_match", 0)),
        boost=float(b.get("boost", 1.0)),
    ))(*_parse_fields_boosts(b["fields"])),
    "span_term": lambda b: _parse_span({"span_term": b}),
    "span_near": lambda b: _parse_span({"span_near": b}),
    "span_or": lambda b: _parse_span({"span_or": b}),
    "span_first": lambda b: _parse_span({"span_first": b}),
    "span_not": lambda b: _parse_span({"span_not": b}),
    "span_within": lambda b: _parse_span({"span_within": b}),
    "span_containing": lambda b: _parse_span({"span_containing": b}),
    "span_multi": lambda b: _parse_span({"span_multi": b}),
    "intervals": _parse_intervals,
    "query_string": lambda b: _parse_query_string(b),
    "simple_query_string": lambda b: _parse_simple_query_string(b),
    "bool": _parse_bool,
    "term": _parse_term,
    "terms": _parse_terms,
    "range": _parse_range,
    "geo_distance": lambda b: _parse_geo_distance(b),
    "geo_bounding_box": lambda b: _parse_geo_bbox(b),
    "geo_polygon": lambda b: _parse_geo_polygon(b),
    "geo_shape": lambda b: _parse_geo_shape(b),
    # reference: ScriptScoreQueryBuilder — the script's value REPLACES
    # the query score (`_score` is available inside the script);
    # optional min_score drops hits below the cutoff
    "script_score": lambda b: A.FunctionScore(
        query=parse(b["query"]),
        functions=[{
            "kind": "script_score",
            "params": {"source": script_source(b["script"])},
            "weight": 1.0, "filter": None,
        }],
        score_mode="multiply", boost_mode="replace",
        min_score=(float(b["min_score"]) if "min_score" in b else None),
        boost=float(b.get("boost", 1.0)),
    ),
    # reference: FieldMaskingSpanQueryBuilder — re-labels the inner
    # span's field for cross-field span composition. This engine has a
    # single indexed text field, so the mask is the identity; parse and
    # delegate to the inner span (documented divergence).
    "field_masking_span": lambda b: _parse_span(b["query"]),
    "span_field_masking": lambda b: _parse_span(b["query"]),
    "exists": lambda b: A.Exists(field_name=b["field"]),
    "ids": lambda b: A.Ids(values=[int(v) for v in b["values"]]),
    "match_all": lambda b: A.MatchAll(boost=float((b or {}).get("boost", 1.0))),
    "match_none": lambda b: A.MatchNone(),
    "constant_score": lambda b: A.ConstantScore(
        filter=parse(b["filter"]), boost=float(b.get("boost", 1.0))
    ),
    "dis_max": lambda b: A.DisMax(
        queries=[parse(q) for q in b["queries"]],
        tie_breaker=float(b.get("tie_breaker", 0.0)),
        boost=float(b.get("boost", 1.0)),
    ),
}


def normalize(node: A.AnyNode) -> A.AnyNode:
    """AST-level rewrites (reference: QueryRewriterRegistry passes)."""
    if isinstance(node, A.Bool):
        node.must = [normalize(c) for c in node.must]
        node.filter = [normalize(c) for c in node.filter]
        node.should = [normalize(c) for c in node.should]
        node.must_not = [normalize(c) for c in node.must_not]
        # match_none in a required context kills the query
        if any(isinstance(c, A.MatchNone) for c in node.must + node.filter):
            return A.MatchNone()
        # match_all removal (keep if it is the ONLY clause)
        n_clauses = len(node.must) + len(node.filter) + len(node.should) + len(node.must_not)
        if n_clauses > 1:
            kept_m = [c for c in node.must if not isinstance(c, A.MatchAll)]
            kept_f = [c for c in node.filter if not isinstance(c, A.MatchAll)]
            if kept_m or kept_f or node.should or node.must_not:
                node.must, node.filter = kept_m, kept_f
        # single-must bool flattening
        if (
            node.boost == 1.0
            and len(node.must) == 1
            and not node.filter and not node.should and not node.must_not
        ):
            return node.must[0]
        # single-should bool (no other clauses, msm <= 1) scores exactly
        # like its clause — flatten so it takes the leaf's pruned path
        if (
            node.boost == 1.0
            and len(node.should) == 1
            and not node.must and not node.filter and not node.must_not
            and node.effective_msm() <= 1
        ):
            return node.should[0]
    return node
