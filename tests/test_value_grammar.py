"""meza's value grammar is written once (meza_spark/__init__.py): the
driver-side type guesser and the JVM Column predicates must classify
every string alike, and no module may carry its own currency class."""

import ast
import os

import pyspark.sql.functions as F

from meza_spark import BOOL_FALSE, BOOL_TRUE, NULL_WORDS
from meza_spark.functions import (is_bool_col, is_int_col, is_null_col,
                                  is_numeric_col)
from meza_spark.typetools import guess_type_by_value

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# signed currency, trailing separators, leading zeros, exponents, bare
# fractions, a tab, a non-ASCII digit, whitespace-only cells
_EDGES = [
    "-$1,234", "-£5", "+$3", "12,", "41800000.01,", "$-1,234", "02139",
    "$02139", "1e5", ".5", "-0", "00", "\t42", "٣", "0", "0e5", "0.5",
    "5.", "1,2,3", "(123)", " ", "\t", "€2,000.50 ", "n/a ", " YES",
]
# one spelling per cell style of perfbench's csv_batch generator
_CSV_BATCH = [
    "412", "-3,075", "$12,345", "-£1,234", "€900,000",
    "1234.50", "1,234.50", "$1,234.50", "-$1,234.50",
    "2007-09-21", "09/21/2007", "Sep 21, 2007", "September 21, 2007",
    "21-Sep-2007", "Sep. 21, 2007", "2/30/2021",
    "2007-09-21T04:14:00", "2007-09-21 04:14:00",
    "Y", "N", "False", "T", "abc de",
]
_WORDS = [w for word in NULL_WORDS + BOOL_TRUE + BOOL_FALSE
          for w in (word, word.upper(), word.title())] + [""]


def test_predicates_agree_with_guess_type_by_value(spark):
    values = sorted(set(_EDGES + _CSV_BATCH + _WORDS))
    df = spark.createDataFrame([(v,) for v in values], "v string")
    c = F.col("v")
    got = {r.v: (r.i, r.n, r.b, r.z) for r in df.select(
        "v", is_int_col(c).alias("i"), is_numeric_col(c).alias("n"),
        is_bool_col(c).alias("b"), is_null_col(c).alias("z")).collect()}
    bad = []
    for v in values:
        t = guess_type_by_value(v)
        want = (t == "int", t in ("int", "float"), t == "bool", t == "null")
        if got[v] != want:
            bad.append((v, t, got[v]))
    assert not bad, bad


def test_currency_class_is_defined_once():
    found = []
    for name in ("convert", "typetools", "functions"):
        path = os.path.join(_ROOT, "meza_spark", f"{name}.py")
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        found += [(name, node.lineno) for node in ast.walk(tree)
                  if isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and ("£" in node.value or "€" in node.value)]
    assert not found, found
