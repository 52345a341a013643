"""Seeded benchmark inputs: a synthetic source-code corpus and the queries
drawn from it.

The generator is the benchmark's own, so the inputs do not change when
package code changes. Its shape follows the package's test corpus:
columns ``(repo, path, commit, lang, content)``, a Zipfian 50k-identifier
vocabulary, Pareto document lengths, and 64-bit docIds that the engine
hashes from ``(repo, path, commit)``.

Query terms are drawn by document-frequency band. Document frequencies
are counted here, on the generated token ids, for identifiers whose
lowercased spelling collides with no other generated token; every word
tokenizer splits those identifiers the same way, so the counts are
exact without calling the engine's analyzer. Phrases take two adjacent
identifiers of a sampled document (random term pairs almost never
co-occur), and conjunctions take terms of one sampled document, so
every query has hits.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["python", "java", "js", "go", "c", "md"]
LANG_W = [0.3, 0.2, 0.2, 0.1, 0.1, 0.1]
EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "c": "c", "md": "md"}
KEYWORDS = {
    "python": ["def", "return", "import", "class", "for", "in", "range", "if",
               "else", "self", "None", "True", "yield", "lambda", "print"],
    "java": ["public", "static", "void", "main", "class", "interface", "return",
             "new", "int", "String", "final", "extends", "implements"],
    "js": ["function", "const", "let", "var", "return", "async", "await",
           "export", "import", "class", "this"],
    "go": ["func", "package", "import", "return", "defer", "go", "chan",
           "struct", "interface", "range"],
    "c": ["int", "void", "return", "struct", "static", "const", "char",
          "sizeof", "typedef", "include"],
    "md": ["the", "a", "and", "of", "to", "in", "for", "with", "code",
           "example", "usage", "install"],
}
EDGE_TOKENS = ["snake_case_name", "camelCaseName", "ALLCAPS", "x86_64", "v2",
               "a.b.c", "foo-bar", "naïve", "i18n", "utf8", "self.value",
               "std::vector", "1e-5", "3.14"]
OPERATORS = ["=", "==", "+", "-", "(", ")", "{", "}", "[", "]", ";", ",",
             "->", "=>", "&&", "||", "!", "*", "/"]
SYLLABLES = ["data", "load", "parse", "node", "tree", "hash", "map", "list",
             "str", "buf", "ctx", "cfg", "util", "calc", "proc", "idx", "tmp",
             "val", "key", "ptr", "arr", "obj", "req", "res", "mod", "gen"]
VOCAB_SIZE = 50_000
VOCAB_SEED = 4242
MEAN_LEN = 60   # tokens per document
SOURCE_FIELDS = ["repo", "path", "lang"]


def _vocab() -> np.ndarray:
    """The identifier vocabulary: the same for every seed."""
    rng = np.random.default_rng(VOCAB_SEED)
    n_parts = rng.integers(1, 4, VOCAB_SIZE)
    parts = rng.integers(0, len(SYLLABLES), (VOCAB_SIZE, 3))
    styles = rng.integers(0, 3, VOCAB_SIZE)
    out = []
    for i in range(VOCAB_SIZE):
        p = [SYLLABLES[j] for j in parts[i, :n_parts[i]]]
        if styles[i] == 0:
            out.append("_".join(p) + (str(i % 100) if i % 7 == 0 else ""))
        elif styles[i] == 1:
            out.append(p[0] + "".join(x.capitalize() for x in p[1:]))
        else:
            out.append("".join(p) + str(i % 1000))
    return np.array(out, dtype=object)


def _queryable(vocab: np.ndarray) -> np.ndarray:
    """Vocab ids whose lowercased form is unique among all generated tokens."""
    lower = np.array([v.lower() for v in vocab], dtype=object)
    _, inv, counts = np.unique(lower, return_inverse=True, return_counts=True)
    others = {w.lower() for ws in KEYWORDS.values() for w in ws}
    others |= {p.lower() for t in EDGE_TOKENS for p in re.split(r"[^\w]+", t)}
    return (counts[inv] == 1) & np.array([w not in others for w in lower])


@dataclass
class Corpus:
    """Generated documents plus the token-id view queries are drawn from.

    ``tok[offsets[i]:offsets[i+1]]`` are doc ``i``'s tokens as vocab ids,
    -1 for keywords, operators, literals and edge-case tokens."""

    frame: pd.DataFrame
    tok: np.ndarray
    offsets: np.ndarray
    terms: np.ndarray       # lowercased vocab strings (the indexed terms)
    queryable: np.ndarray   # bool per vocab id
    df: np.ndarray          # docs containing each vocab id

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tok[self.offsets[i]:self.offsets[i + 1]]

    def digest(self) -> str:
        h = hashlib.sha256()
        for col in ("repo", "path", "commit", "content"):
            h.update("\x1f".join(self.frame[col].tolist()).encode())
        return h.hexdigest()[:16]


def generate(seed: int, n_docs: int, salt: str = "base") -> Corpus:
    """Deterministic corpus of ``n_docs`` rows; ``salt`` names disjoint
    document sets drawn from one seed (ids never collide across salts).

    The vocabulary, its frequency ranks and the total token count are
    the same for every seed; the seed picks which documents get which
    tokens, so sizes and costs stay comparable across seeds."""
    rng = np.random.default_rng([seed, int.from_bytes(salt.encode(), "little")])
    vocab = _vocab()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    probs = 1.0 / ranks ** 1.1
    probs = (probs / probs.sum())[np.random.default_rng(VOCAB_SEED).permutation(VOCAB_SIZE)]

    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_W)
    lens = np.clip((rng.pareto(1.6, n_docs) + 1.0) * 18, 3, 4000)
    # Pareto sums swing widely between seeds: rescale to the expected total
    lens = np.maximum(np.round(lens * (MEAN_LEN * n_docs / lens.sum())), 3).astype(np.int64)
    lens[np.arange(n_docs) % 211 == 0] = 0   # empty documents
    total = int(lens.sum())
    cat = rng.random(total)
    vocab_ids = rng.choice(VOCAB_SIZE, size=total, p=probs)
    kw_ids = rng.integers(0, 1 << 30, size=total)
    edge_ids = rng.integers(0, len(EDGE_TOKENS), size=total)
    op_ids = rng.integers(0, len(OPERATORS), size=total)
    nums = rng.integers(0, 10000, size=total)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    tok = np.where(cat >= 0.52, vocab_ids, -1)

    # token kinds by share: keyword, edge case, operator, number literal,
    # identifier
    kind = np.searchsorted([0.35, 0.40, 0.47, 0.52], cat, side="right")
    words = np.empty(total, dtype=object)
    kw_flat = np.array([w for lang in LANGS for w in KEYWORDS[lang]], dtype=object)
    kw_len = np.array([len(KEYWORDS[lang]) for lang in LANGS])
    kw_start = np.concatenate(([0], np.cumsum(kw_len)[:-1]))
    m = kind == 0
    tok_lang = np.repeat(langs, lens)[m]
    words[m] = kw_flat[kw_start[tok_lang] + kw_ids[m] % kw_len[tok_lang]]
    m = kind == 1
    words[m] = np.array(EDGE_TOKENS, dtype=object)[edge_ids[m]]
    m = kind == 2
    words[m] = np.array(OPERATORS, dtype=object)[op_ids[m]]
    m = kind == 3
    words[m] = nums[m].astype(str)
    m = kind == 4
    words[m] = vocab[vocab_ids[m]]
    words = words.tolist()
    rows = []
    for i in range(n_docs):
        lang = LANGS[int(langs[i])]
        commit = hashlib.sha1(f"{seed}:{salt}:{i}".encode()).hexdigest()
        rows.append((f"org{i % 97}/repo{i % 389}",
                     f"src/{salt}/pkg{i % 23}/file_{i}.{EXT[lang]}", commit, lang,
                     " ".join(words[offsets[i]:offsets[i + 1]])))
    frame = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    keep = tok >= 0
    pairs = np.unique(doc_of[keep] * VOCAB_SIZE + tok[keep])
    df = np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)
    terms = np.array([v.lower() for v in vocab], dtype=object)
    return Corpus(frame, tok, offsets, terms, _queryable(vocab), df)


# ---- queries -----------------------------------------------------------

@dataclass(frozen=True)
class Query:
    """One query: its DSL body and the oracle call that scores it."""

    dsl: dict
    oracle: tuple   # (oracle_ft function name, kwargs)


def _band_ids(c: Corpus, lo: int, hi: int) -> np.ndarray:
    return np.flatnonzero(c.queryable & (c.df >= lo) & (c.df <= hi))


def _pick_doc_pair(c: Corpus, rng, ok: np.ndarray, adjacent: bool,
                   tries: int = 400) -> tuple | None:
    """Two distinct in-band terms of one sampled doc (adjacent if asked)."""
    n = len(c.offsets) - 1
    for _ in range(tries):
        t = c.doc_tokens(int(rng.integers(0, n)))
        if t.size < 2:
            continue
        good = (t >= 0) & ok[np.maximum(t, 0)]
        if adjacent:
            idx = np.flatnonzero(good[:-1] & good[1:] & (t[:-1] != t[1:]))
            if idx.size:
                j = int(idx[rng.integers(0, idx.size)])
                return int(t[j]), int(t[j + 1])
        else:
            ids = np.unique(t[good])
            if ids.size >= 2:
                a, b = rng.choice(ids, 2, replace=False)
                return int(a), int(b)
    return None


def make_queries(c: Corpus, seed: int, salt: str, n: int, lo: int, hi: int,
                 pair_hi: int | None = None) -> list[Query]:
    """``n`` distinct queries cycling over the families match OR/AND,
    phrase and bool with must_not; terms have df in ``[lo, hi]``.

    ``pair_hi`` widens the band for the second term of pair families
    (conjunctions and phrases need co-occurring terms, which are rare
    when both are selective)."""
    rng = np.random.default_rng([seed, int.from_bytes(salt.encode(), "little")])
    band = _band_ids(c, lo, hi)
    if band.size < 8:
        raise ValueError(f"df band [{lo}, {hi}] holds {band.size} terms")
    in_band = np.zeros(c.df.size, bool)
    in_band[band] = True
    wide = in_band.copy()
    if pair_hi is not None:
        wide[_band_ids(c, lo, pair_hi)] = True
    T = c.terms
    out: list[Query] = []
    seen: set = set()
    families = ["match_or", "match_and", "phrase", "bool_not"]
    f = 0
    while len(out) < n:
        fam = families[f % len(families)]
        f += 1
        if fam == "match_or":
            a, b, d = (T[int(i)] for i in rng.choice(band, 3, replace=False))
            q = Query({"match": {"content": f"{a} {b} {d}"}},
                      ("match_sql", {"query": f"{a} {b} {d}"}))
        else:
            pair = _pick_doc_pair(c, rng, wide, adjacent=(fam == "phrase"))
            if pair is None or not (in_band[pair[0]] or in_band[pair[1]]):
                continue
            a, b = T[pair[0]], T[pair[1]]
            if fam == "match_and":
                q = Query({"match": {"content": {"query": f"{a} {b}", "operator": "and"}}},
                          ("match_sql", {"query": f"{a} {b}", "operator": "and"}))
            elif fam == "phrase":
                q = Query({"match_phrase": {"content": f"{a} {b}"}},
                          ("phrase_sql", {"query": f"{a} {b}"}))
            else:
                s = T[int(rng.choice(band))]
                q = Query({"bool": {"must": [{"match": {"content": a}}],
                                         "should": [{"match": {"content": s}}],
                                         "must_not": [{"match": {"content": b}}]}},
                          ("bool_sql", {"must": [{"kind": "match", "query": a}],
                                        "should": [{"kind": "match", "query": s}],
                                        "must_not": [{"kind": "match", "query": b}]}))
        key = json.dumps(q.dsl, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out


def digest_queries(queries) -> str:
    blob = json.dumps([q.dsl for q in queries], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]
