"""Custom analysis chains for the `_analyze` API — the Spark-side analog
of the reference's analysis-common module (char filters, tokenizers,
token filters; reference: modules/analysis-common/src/main/java/org/
opensearch/analysis/common/CommonAnalysisModulePlugin.java registry).

Scope note: the INDEX path stays on the standard analyzer (SURVEY §1.4
— the engine's postings contract); these chains serve the per-request
`_analyze` endpoint, which in the reference likewise runs on a single
node per request (TransportAnalyzeAction), so plain driver-side Python
is the honest cost model here. Token streams are lists of dicts
``{token, position, start_offset, end_offset}``.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Callable, Dict, List

Token = Dict[str, object]

# Lucene EnglishAnalyzer.ENGLISH_STOP_WORDS_SET (analysis-common `stop`
# filter default, _english_ set)
ENGLISH_STOP = {
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
}


def _tok(token: str, position: int, start: int, end: int) -> Token:
    return {"token": token, "position": position,
            "start_offset": start, "end_offset": end}


# --------------------------------------------------------------------------
# char filters (string -> string; offsets are best-effort after mapping,
# matching the reference's corrected-offset behavior only for 1:1 edits)

def char_filter_html_strip(text: str) -> str:
    # reference HTMLStripCharFilter: removes tags AND decodes entities
    import html

    return html.unescape(re.sub(r"<[^>]*>", "", text))


def char_filter_pattern_replace(pattern: str, replacement: str):
    rx = re.compile(pattern)

    def f(text: str) -> str:
        return rx.sub(replacement, text)

    return f


def char_filter_mapping(mappings: List[str]):
    """mappings like ["ph => f", ":) => happy"]. Single longest-match
    pass over the ORIGINAL input (reference MappingCharFilter): one
    rule's output is never re-rewritten by another rule."""
    table = {}
    for m in mappings:
        src, _, dst = m.partition("=>")
        src = src.strip()
        if not src:
            # reference MappingCharFilter rejects empty keys; an empty
            # regex alternative would match at EVERY position
            raise ValueError(f"mapping rule with empty source: {m!r}")
        table[src] = dst.strip()
    if not table:
        return lambda text: text
    rx = re.compile("|".join(
        re.escape(s) for s in sorted(table, key=len, reverse=True)))

    def f(text: str) -> str:
        return rx.sub(lambda m: table[m.group(0)], text)

    return f


# --------------------------------------------------------------------------
# tokenizers (string -> token stream)

def tokenizer_standard(text: str) -> List[Token]:
    from opensearch_spark.analysis.analyzer import tokenize_offsets

    return [_tok(t, i, s, e)
            for i, (t, s, e) in enumerate(tokenize_offsets(text))]


def tokenizer_whitespace(text: str) -> List[Token]:
    from opensearch_spark.analysis.analyzer import WHITESPACE_PATTERN

    return [_tok(m.group(0), i, m.start(), m.end())
            for i, m in enumerate(WHITESPACE_PATTERN.finditer(text or ""))]


def tokenizer_keyword(text: str) -> List[Token]:
    return [_tok(text, 0, 0, len(text))] if text else []


def tokenizer_letter(text: str) -> List[Token]:
    return [_tok(m.group(0), i, m.start(), m.end())
            for i, m in enumerate(re.finditer(r"[^\W\d_]+", text or ""))]


def tokenizer_pattern(pattern: str = r"\W+"):
    """Reference PatternTokenizer: the pattern matches SEPARATORS."""
    rx = re.compile(pattern)

    def f(text: str) -> List[Token]:
        out, pos, last = [], 0, 0
        for m in rx.finditer(text or ""):
            if m.start() > last:
                out.append(_tok(text[last:m.start()], pos, last, m.start()))
                pos += 1
            last = m.end()
        if last < len(text or ""):
            out.append(_tok(text[last:], pos, last, len(text)))
        return out

    return f


def tokenizer_path_hierarchy(delimiter: str = "/"):
    def f(text: str) -> List[Token]:
        # Lucene PathHierarchyTokenizer: every prefix ending just before
        # a delimiter (leading delimiter retained), plus the full string.
        # "/usr/local/bin" -> "/usr", "/usr/local", "/usr/local/bin".
        if not text:
            return []
        out = []
        start = len(delimiter) if text.startswith(delimiter) else 0
        i = text.find(delimiter, start)
        while i != -1:
            out.append(_tok(text[:i], 0, 0, i))
            i = text.find(delimiter, i + len(delimiter))
        if not out or out[-1]["token"] != text:
            out.append(_tok(text, 0, 0, len(text)))
        return out

    return f


def tokenizer_ngram(min_gram: int = 1, max_gram: int = 2):
    def f(text: str) -> List[Token]:
        out, pos = [], 0
        for n in range(min_gram, max_gram + 1):
            for i in range(0, max(0, len(text) - n + 1)):
                out.append(_tok(text[i:i + n], pos, i, i + n))
                pos += 1
        return out

    return f


def tokenizer_edge_ngram(min_gram: int = 1, max_gram: int = 2):
    def f(text: str) -> List[Token]:
        return [_tok(text[:n], i, 0, n)
                for i, n in enumerate(range(min_gram,
                                            min(max_gram, len(text)) + 1))]

    return f


TOKENIZERS: Dict[str, Callable] = {
    "standard": tokenizer_standard,
    "whitespace": tokenizer_whitespace,
    "keyword": tokenizer_keyword,
    "letter": tokenizer_letter,
}


# --------------------------------------------------------------------------
# Porter stemmer (Porter 1980, "An algorithm for suffix stripping" —
# the reference's `stemmer` filter default `english` == PorterStem)

_VOWELS = "aeiou"


def _is_cons(w: str, i: int) -> bool:
    ch = w[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(stem: str) -> int:
    m, prev_vowel = 0, False
    for i in range(len(stem)):
        v = not _is_cons(stem, i)
        if not v and prev_vowel:
            m += 1
        prev_vowel = v
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(w: str) -> bool:
    return (len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1))


def _cvc(w: str) -> bool:
    if len(w) < 3:
        return False
    return (_is_cons(w, len(w) - 3) and not _is_cons(w, len(w) - 2)
            and _is_cons(w, len(w) - 1) and w[-1] not in "wxy")


def porter_stem(w: str) -> str:
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
                     ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
                     ("alli", "al"), ("entli", "ent"), ("eli", "e"),
                     ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
                     ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
                     ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
                     ("iviti", "ive"), ("biliti", "ble")):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 3
    for suf, rep in (("icate", "ic"), ("ative", ""), ("alize", "al"),
                     ("iciti", "ic"), ("ical", "ic"), ("ful", ""),
                     ("ness", "")):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 4
    for suf in ("al", "ance", "ence", "er", "ic", "able", "ible", "ant",
                "ement", "ment", "ent", "ou", "ism", "ate", "iti", "ous",
                "ive", "ize"):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 1:
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            if _measure(w[:-3]) > 1:
                w = w[:-3]
    # step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


# --------------------------------------------------------------------------
# token filters (token stream -> token stream)

def make_filter(spec) -> Callable[[List[Token]], List[Token]]:
    """Build one token filter from its name or {type: ..., ...} spec
    (the subset of analysis-common most used in practice)."""
    if isinstance(spec, str):
        spec = {"type": spec}
    t = spec["type"]

    if t == "lowercase":
        return lambda ts: [{**x, "token": str(x["token"]).lower()} for x in ts]
    if t == "uppercase":
        return lambda ts: [{**x, "token": str(x["token"]).upper()} for x in ts]
    if t == "reverse":
        return lambda ts: [{**x, "token": str(x["token"])[::-1]} for x in ts]
    if t == "trim":
        return lambda ts: [{**x, "token": str(x["token"]).strip()} for x in ts]
    if t == "asciifolding":
        def fold(s: str) -> str:
            return "".join(c for c in unicodedata.normalize("NFKD", s)
                           if not unicodedata.combining(c))

        return lambda ts: [{**x, "token": fold(str(x["token"]))} for x in ts]
    if t == "length":
        lo, hi = int(spec.get("min", 0)), int(spec.get("max", 2 ** 31 - 1))
        return lambda ts: [x for x in ts if lo <= len(str(x["token"])) <= hi]
    if t == "truncate":
        n = int(spec.get("length", 10))
        return lambda ts: [{**x, "token": str(x["token"])[:n]} for x in ts]
    if t == "unique":
        def uniq(ts):
            seen, out = set(), []
            for x in ts:
                if x["token"] not in seen:
                    seen.add(x["token"])
                    out.append(x)
            return out

        return uniq
    if t == "stop":
        words = spec.get("stopwords", "_english_")
        sw = ENGLISH_STOP if words == "_english_" else set(words)
        # reference StopFilter: CASE-SENSITIVE unless ignore_case=true
        # (StopTokenFilterFactory); positions INCREMENT across removed
        # tokens (posInc gaps) — we keep original numbers, same effect
        if bool(spec.get("ignore_case", False)):
            swl = {w.lower() for w in sw}
            return lambda ts: [x for x in ts
                               if str(x["token"]).lower() not in swl]
        return lambda ts: [x for x in ts if str(x["token"]) not in sw]
    if t in ("stemmer", "porter_stem"):
        lang = spec.get("language", spec.get("name", "english"))
        if lang not in ("english", "porter", "_english_"):
            raise ValueError(f"unsupported stemmer language: {lang}")
        return lambda ts: [{**x, "token": porter_stem(str(x["token"]))}
                           for x in ts]
    if t == "synonym":
        # explicit-mapping rules: "a, b => c" or "x, y" (bidirectional)
        expand: Dict[str, List[str]] = {}
        for rule in spec.get("synonyms", []):
            lhs, arrow, rhs = rule.partition("=>")
            if arrow:
                outs = [s.strip() for s in rhs.split(",") if s.strip()]
                for src in (s.strip() for s in lhs.split(",")):
                    expand.setdefault(src, []).extend(outs)
            else:
                group = [s.strip() for s in lhs.split(",") if s.strip()]
                for src in group:
                    expand.setdefault(src, []).extend(
                        [g for g in group if g != src])

        def syn(ts):
            out = []
            for x in ts:
                out.append(x)
                for alt in expand.get(str(x["token"]), []):
                    out.append({**x, "token": alt})
            return out

        return syn
    if t == "shingle":
        lo = int(spec.get("min_shingle_size", 2))
        hi = int(spec.get("max_shingle_size", 2))
        sep = spec.get("token_separator", " ")
        unigrams = bool(spec.get("output_unigrams", True))

        def sh(ts):
            out = list(ts) if unigrams else []
            for n in range(lo, hi + 1):
                for i in range(len(ts) - n + 1):
                    grp = ts[i:i + n]
                    out.append(_tok(sep.join(str(x["token"]) for x in grp),
                                    grp[0]["position"],
                                    grp[0]["start_offset"],
                                    grp[-1]["end_offset"]))
            out.sort(key=lambda x: (x["position"], x["end_offset"]))
            return out

        return sh
    if t == "edge_ngram":
        lo = int(spec.get("min_gram", 1))
        hi = int(spec.get("max_gram", 2))

        def eg(ts):
            out = []
            for x in ts:
                s = str(x["token"])
                for n in range(lo, min(hi, len(s)) + 1):
                    out.append({**x, "token": s[:n]})
            return out

        return eg
    if t == "ngram":
        lo = int(spec.get("min_gram", 1))
        hi = int(spec.get("max_gram", 2))

        def ng(ts):
            out = []
            for x in ts:
                s = str(x["token"])
                for n in range(lo, hi + 1):
                    for i in range(len(s) - n + 1):
                        out.append({**x, "token": s[i:i + n]})
            return out

        return ng
    raise ValueError(f"unknown token filter: {t}")


def make_char_filter(spec) -> Callable[[str], str]:
    if isinstance(spec, str):
        spec = {"type": spec}
    t = spec["type"]
    if t == "html_strip":
        return char_filter_html_strip
    if t == "pattern_replace":
        return char_filter_pattern_replace(
            spec["pattern"], spec.get("replacement", ""))
    if t == "mapping":
        return char_filter_mapping(spec.get("mappings", []))
    raise ValueError(f"unknown char filter: {t}")


def make_tokenizer(spec) -> Callable[[str], List[Token]]:
    if isinstance(spec, str):
        spec = {"type": spec}
    t = spec["type"]
    if t in TOKENIZERS:
        return TOKENIZERS[t]
    if t == "pattern":
        return tokenizer_pattern(spec.get("pattern", r"\W+"))
    if t == "path_hierarchy":
        return tokenizer_path_hierarchy(spec.get("delimiter", "/"))
    if t == "ngram":
        return tokenizer_ngram(int(spec.get("min_gram", 1)),
                               int(spec.get("max_gram", 2)))
    if t == "edge_ngram":
        return tokenizer_edge_ngram(int(spec.get("min_gram", 1)),
                                    int(spec.get("max_gram", 2)))
    raise ValueError(f"unknown tokenizer: {t}")


def analyze_chain(text: str, tokenizer="standard", filters=(),
                  char_filters=()) -> List[Token]:
    """Run a full custom analysis chain, mirroring the reference
    `_analyze` request body: char_filter -> tokenizer -> filter list."""
    for cf in char_filters:
        text = make_char_filter(cf)(text)
    stream = make_tokenizer(tokenizer)(text)
    for f in filters:
        stream = make_filter(f)(stream)
    return stream
