import pandas as pd
import pytest

from opensearch_spark.analysis import analyzer


GOLDEN = [
    # (input, expected tokens) — documents the engine's analyzer contract
    # (UAX#29 subset; see analysis/analyzer.py docstring for divergences)
    ("Hello World", ["hello", "world"]),
    ("foo_bar", ["foo_bar"]),            # '_' = ExtendNumLet, joins (UAX#29 WB13)
    ("x86_64", ["x86_64"]),
    ("camelCase", ["camelcase"]),        # standard analyzer does NOT split camelCase
    ("foo-bar", ["foo", "bar"]),         # hyphen splits
    ("a.b.c", ["a.b.c"]),                # '.' = MidNumLet, joins between word chars
    ("example.com", ["example.com"]),
    ("3.14", ["3.14"]),
    ("dog's", ["dog's"]),                # apostrophe joins
    ("std::vector", ["std", "vector"]),  # double colon: mid char needs word on both sides
    ("foo:bar", ["foo:bar"]),            # single colon = MidLetter, joins
    ("end.", ["end"]),                   # trailing mid char dropped
    ("'quoted'", ["quoted"]),
    ("1,000", ["1", "000"]),             # ',' not implemented as MidNum (documented)
    ("i=0; i<n; i++", ["i", "0", "i", "n", "i"]),
    ("def f(x): return x*2", ["def", "f", "x", "return", "x", "2"]),
    ("", []),
    ("   \t\n  ", []),
    ("!!!", []),
    ("π = 3.14159", ["π", "3.14159"]),
    ("naïve café", ["naïve", "café"]),
    ("import numpy as np", ["import", "numpy", "as", "np"]),
    ("UPPER lower MiXeD", ["upper", "lower", "mixed"]),
    ("v2.0.1-rc1", ["v2.0.1", "rc1"]),
    ("a", ["a"]),
    ("1e-5", ["1e", "5"]),
    ("__init__", ["__init__"]),
    ("self.value", ["self.value"]),
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_golden_tokens(text, expected):
    assert analyzer.tokenize(text) == expected


def test_pandas_matches_scalar():
    texts = [t for t, _ in GOLDEN]
    out = analyzer.tokenize_pandas(pd.Series(texts))
    for t, got in zip(texts, out):
        assert list(got) == analyzer.tokenize(t), t


def test_max_token_length_split():
    long = "a" * 600
    toks = analyzer.tokenize(long)
    assert toks == ["a" * 255, "a" * 255, "a" * 90]
    # pandas path agrees
    out = analyzer.tokenize_pandas(pd.Series([long + " xyz"]))
    assert list(out[0]) == ["a" * 255, "a" * 255, "a" * 90, "xyz"]


# Java Character.isWhitespace over the BMP (the reference's
# WhitespaceTokenizer split set): Zs/Zl/Zp minus the no-break spaces
# U+00A0, U+2007, U+202F, plus U+0009-U+000D and U+001C-U+001F
JAVA_WHITESPACE = (
    set(range(0x09, 0x0E)) | set(range(0x1C, 0x21)) | {0x1680}
    | set(range(0x2000, 0x2007)) | set(range(0x2008, 0x200B))
    | {0x2028, 0x2029, 0x205F, 0x3000}
)


def test_whitespace_split_set_is_javas_in_both_dialects():
    """The whitespace analyzer splits on the same code points at write
    time (DuckDB/RE2) and at query time (Python re), and those are
    exactly Java's: U+3000 splits, U+00A0 does not."""
    duckdb = pytest.importorskip("duckdb")
    import pyarrow as pa

    texts = [f"a{chr(c)}b" for c in range(0x10000)
             if not 0xD800 <= c <= 0xDFFF]
    con = duckdb.connect()
    con.register("t", pa.table({"content": texts}))
    rows = con.execute(
        "SELECT content, " + analyzer.duckdb_tokens_expr("whitespace")
        + " FROM t").fetchall()
    assert len(rows) == len(texts)
    split = set()
    for s, toks in rows:
        assert toks == analyzer.tokenize(s, "whitespace"), hex(ord(s[1]))
        if toks == ["a", "b"]:
            split.add(ord(s[1]))
        else:
            assert toks == [s]
    assert split == JAVA_WHITESPACE


def test_duckdb_regex_agrees():
    """The RE2 oracle regex must tokenize identically to the Python one
    (on text within the shared dialect subset)."""
    duckdb = pytest.importorskip("duckdb")
    pattern = analyzer.duckdb_token_regex()
    texts = [t for t, _ in GOLDEN if t.strip()]
    con = duckdb.connect()
    for t in texts:
        rows = con.execute(
            f"select regexp_extract_all(lower(?), '{pattern}')", [t]
        ).fetchone()[0]
        assert rows == [x for x in analyzer.tokenize(t)], t
