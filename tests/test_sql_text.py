"""The SQL-text idiom of the operator library: every name and value a
user supplies goes into expression text through ``functions/sqltext.py``,
so a hostile string works as itself or fails loudly.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_double, sql_ident, sql_str

FUNCTIONS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "etl_router_spark", "functions")
HOSTILE_STRINGS = ["it's", "[RED\\ACTED]", "a\\nb", "a\nb", "\\", "''", "\\%_", "ünï—😀", "\\u0041"]


def test_one_quoting_idiom():
    """Spark-free tripwire: no hand-written string escape or double
    literal (``repr(float(x))`` with no ``D`` parses as a DECIMAL)
    outside the helper module, and no Column-composed twin of the
    SQL-text builders."""
    found = []
    for name in sorted(os.listdir(FUNCTIONS)):
        if not name.endswith(".py") or name == "sqltext.py":
            continue
        with open(os.path.join(FUNCTIONS, name)) as fh:
            text = fh.read()
        found += [f"{name}: {needle}" for needle in (".replace(\"'\"", "!r}D", "repr(float(")
                  if needle in text]
        found += [f"{name}: def {node.name}" for node in ast.walk(ast.parse(text))
                  if isinstance(node, ast.FunctionDef)
                  and node.name in ("h60", "tokens_col", "shingles")]
    assert not found


def test_sql_ident_follows_col_rules():
    assert sql_ident("body text") == "`body text`"
    assert sql_ident("a.b") == "`a`.`b`"  # a nested field, as F.col reads it
    assert sql_ident("a.`b.c`") == "`a`.`b.c`"
    assert sql_ident("`we``ird`") == "`we``ird`"
    assert sql_ident("we`ird", alias=True) == "`we``ird`"
    assert sql_ident("a.b", alias=True) == "`a.b`"
    for bad in ("we`ird", "", "a..b", "`a`b"):  # F.col rejects these too
        with pytest.raises(ValueError, match="invalid column name"):
            sql_ident(bad)


def test_literals_read_back(spark):
    strs = spark.sql("SELECT " + ", ".join(
        f"{sql_str(s)} AS s{i}" for i, s in enumerate(HOSTILE_STRINGS))).first()
    assert list(strs) == HOSTILE_STRINGS
    xs = [0.1, 1, -2.5e-300, 1 / 3]
    got = spark.sql("SELECT " + ", ".join(
        f"{sql_double(x)} AS x{i}" for i, x in enumerate(xs))).first()
    assert list(got) == [float(x) for x in xs]


def test_hostile_names_resolve_like_col(spark):
    df = spark.createDataFrame([(1, (2,), 3)], "`select` int, `a b` struct<c: int>, `we``ird` int")
    for name in ("select", "a b.c", "`we``ird`"):
        assert df.select(F.expr(sql_ident(name))).first() == df.select(F.col(name)).first()
    out = df.selectExpr(f"1 AS {sql_ident('x.y`z', alias=True)}")
    assert out.columns == ["x.y`z"]


@pytest.mark.parametrize("sentinel", ["[RED\\ACTED]", "it's", "a\\nb"])
def test_redact_keeps_the_sentinel_verbatim(spark, sentinel):
    from etl_router_spark.functions.corpus import redact_contaminated_spans

    docs = spark.createDataFrame(
        [(1, "keep this leaked gram here please"), (2, "all clean")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "this leaked gram")], "doc_id long, text string")
    out = {r.doc_id: r.clean_text for r in
           redact_contaminated_spans(docs, bench, n=3, sentinel=sentinel).collect()}
    assert out == {1: f"keep {sentinel} here please", 2: "all clean"}


@pytest.mark.parametrize("sep", ["'", "\\", "\\n", " — "])
def test_shingle_separator_is_a_literal(spark, sep):
    from etl_router_spark.functions.text import bound_shingles_sql

    df = spark.createDataFrame([("a b c",)], "`body text` string")
    got = df.select(F.expr(bound_shingles_sql(sql_ident("body text"), 2, sep))).first()[0]
    assert got == [f"a{sep}b", f"b{sep}c"]
