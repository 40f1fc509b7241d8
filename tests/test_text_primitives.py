"""The text and hash primitives live in ``functions/text.py`` alone.

1. A guard over the package source: outside ``functions/text.py`` no
   module may spell the word or alphanumeric tokenizer
   (``regexp_extract_all`` / ``split`` with a literal ``[a-z]+`` or
   ``[^a-z0-9]+`` pattern), bind a ``_WORD_RE`` name, or build the md5
   draw ``conv(substring(<md5>, 1, 8 | 15), 16, 10)``.  SQL oracle
   strings are plain constants and are not inspected.
2. Each primitive against the DuckDB form the SQL oracles use, on NULL,
   blank, punctuated, non-ASCII, digit and separator-edged inputs.
"""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest

from pyspark.sql import functions as F

import magi_etl_spark
from magi_etl_spark.functions.text import alnum_words, md5_u32, tokens, words

_TOKEN_PATTERNS = {"[a-z]+", "[^a-z0-9]+"}


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    return func.id if isinstance(func, ast.Name) else None


def _is_call(node: ast.AST, name: str) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == name


def _literal(node: ast.AST):
    """The constant ``node`` is, or the constant a ``lit(...)`` wraps."""
    if _is_call(node, "lit") and node.args:
        node = node.args[0]
    return node.value if isinstance(node, ast.Constant) else None


def _primitive_copy(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name) and node.id == "_WORD_RE":
        return "_WORD_RE"
    if not isinstance(node, ast.Call):
        return None
    if _name(node.func) in ("regexp_extract_all", "split") and any(
        _literal(a) in _TOKEN_PATTERNS for a in node.args
    ):
        return f"{_name(node.func)}(<token pattern>)"
    if _is_call(node, "conv") and len(node.args) == 3:
        sub, *radix = node.args
        if (
            [_literal(r) for r in radix] == [16, 10]
            and _is_call(sub, "substring")
            and [_literal(a) for a in sub.args[1:]] in ([1, 8], [1, 15])
        ):
            return "conv(substring(md5, 1, n), 16, 10)"
    return None


def test_text_primitives_have_one_home():
    root = Path(magi_etl_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/text.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            what = _primitive_copy(node)
            if what:
                offenders.append(f"{rel}:{node.lineno} {what}")
    assert not offenders, (
        "copies of a functions/text.py primitive: " + ", ".join(offenders)
    )


_INPUTS = [None, "", "  ", "Hello, World", "é ÉCOLE naïve", "a1 b22 333", "--x--y--"]

# primitive -> (Spark builder, the DuckDB form the oracles use over t)
_PRIMITIVES = {
    "words": (words, "regexp_extract_all(lower(t), '[a-z]+')"),
    "alnum_words": (alnum_words, "regexp_extract_all(lower(t), '[a-z0-9]+')"),
    "tokens_lower": (
        lambda c: tokens(F.lower(c)),
        r"list_filter(regexp_split_to_array(trim(lower(t)), '\s+'), x -> x <> '')",
    ),
    "md5_u32": (md5_u32, "CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)"),
}


@pytest.mark.parametrize("name", list(_PRIMITIVES))
def test_primitive_matches_duckdb_form(name, spark):
    build, sql = _PRIMITIVES[name]
    df = spark.createDataFrame(list(enumerate(_INPUTS)), "i int, t string")
    got = {r.i: r.v for r in df.select("i", build(F.col("t")).alias("v")).collect()}
    con = duckdb.connect()
    query = f"SELECT {sql} FROM (SELECT ?::VARCHAR AS t)"
    try:
        if name == "md5_u32":
            # DuckDB's concat skips a NULL, so its form parses '0x' and
            # raises where Spark's draw is NULL
            assert got.pop(0) is None
            with pytest.raises(duckdb.ConversionException):
                con.execute(query, [None])
        want = {i: con.execute(query, [_INPUTS[i]]).fetchone()[0] for i in got}
    finally:
        con.close()
    assert got == want, f"{name} differs from DuckDB's {sql}"
