"""Cast-pack tests: messy-string semantics from the reference's doctest
corpus (meza/convert.py, meza/fntools.py — values re-derived from
FIXTURES.md, not copied)."""

import datetime
import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from meza_spark import convert as cv


def _one(spark, value, expr_fn):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr_fn(F.col("v")).alias("r")).collect()[0]["r"]


@pytest.mark.parametrize("raw,expected", [
    ("yes", True), ("y", True), ("TRUE", True), ("t", True),
    ("no", False), ("n", False), ("False", False), ("f", False),
    ("1", True), ("0", False), ("2.5", True),
    ("banana", False),          # permissive default
    ("na", None), ("", None), ("None", None),
])
def test_to_bool(spark, raw, expected):
    assert _one(spark, raw, cv.to_bool) == expected


@pytest.mark.parametrize("raw,expected", [
    ("42", 42), ("$42", 42), ("£1,234", 1234), ("€2,000", 2000),
    ("2.5", 2), ("-1.5", -1),   # truncate toward zero (int(float(x)))
    ("(100)", -100),            # accounting negative
    ("junk", 0),                # permissive → 0
    ("n/a", None), (None, None),
])
def test_to_int_permissive(spark, raw, expected):
    assert _one(spark, raw, cv.to_int) == expected


def test_to_int_strict_null_on_failure(spark):
    assert _one(spark, "junk", lambda c: cv.to_int(c, strict=True)) is None


@pytest.mark.parametrize("raw,expected", [
    ("1.5", 1.5), ("$1,234.56", 1234.56), ("bad", 0.0), ("null", None),
])
def test_to_float(spark, raw, expected):
    assert _one(spark, raw, cv.to_float) == expected


def test_to_decimal_half_up(spark):
    from decimal import Decimal
    assert _one(spark, "1.005", cv.to_decimal) == Decimal("1.01")
    assert _one(spark, "$2,000.129", cv.to_decimal) == Decimal("2000.13")


@pytest.mark.parametrize("raw,expected", [
    ("1982-05-04", datetime.date(1982, 5, 4)),
    ("05/04/82", datetime.date(1982, 5, 4)),       # MM/dd/yy
    ("01-Jan-15", datetime.date(2015, 1, 1)),
    ("December 31, 1995", datetime.date(1995, 12, 31)),
])
def test_to_date_formats(spark, raw, expected):
    # the FIXTURES §1 mixed_basic date corpus
    assert _one(spark, raw, lambda c: cv.to_date(c, fuzzy=True)) == expected


def test_impossible_day_repair(spark):
    # meza/convert.py:415-427: '2/32/82' retries day 31→…→28
    got = _one(spark, "2/32/82", lambda c: cv.to_date(c, fuzzy=True))
    assert got == datetime.date(1982, 2, 28)


def _native_date_grid():
    """Spellings the native date shapes serve, plus near misses ('Sept',
    day 0, day 32+, hour 24, years below 0100) that must fall through to
    dateutil."""
    names = [datetime.date(2001, m, 1).strftime(f)
             for m in range(1, 13) for f in ("%b", "%B")] + ["Sept", "Sept."]
    days = ["0", "1", "01", "9", "28", "29", "30", "31", "32"]
    years = ["0004", "0099", "0100", "0400", "1900", "2000", "2004", "2021",
             "9999"]
    yy = ["00", "15", "49", "50", "75", "76", "82", "99"]
    grid = []
    for name in names:
        for case in (str.title, str.upper, str.lower):
            for dot in ("", ".") if not name.endswith(".") else ("",):
                grid += [f"{case(name)}{dot} {d}, {y}"
                         for d in days for y in years]
            if len(name) == 3:
                grid += [f"{d}-{case(name)}-{y}"
                         for d in days for y in years + yy]
    grid += [f"{m}/{d}/{y}" for m in range(0, 14) for d in range(1, 100)
             for y in years]
    grid += [f"{m}/{d}/{y} {t}" for m in ("0", "2", "02", "12", "13")
             for d in days for y in years
             for t in ("0:00:00", "9:05:07", "23:59:59", "24:00:00")]
    grid += [f"{y}/{m}/{d}" for y in years
             for m in ("0", "1", "02", "12", "13") for d in days]
    return sorted(set(grid))


def test_native_date_tiers_agree_with_dateutil(spark):
    import pandas as pd

    grid = _native_date_grid()
    df = spark.createDataFrame([(v,) for v in grid], "v string")
    native = {r.v: r.t for r in df.select(
        "v", F.date_format(cv.to_datetime(F.col("v")),
                           "yyyy-MM-dd HH:mm:ss").alias("t")).collect()}
    ref = cv._fuzzy_ts_fn(pd.Series(grid))
    parsed = {v: want for v, want in zip(grid, ref) if native[v] is not None}
    bad = [(v, native[v], want) for v, want in parsed.items()
           if pd.isna(want) or native[v] != want.isoformat(sep=" ")]
    assert not bad, bad[:10]
    # most of the grid never needs dateutil
    assert len(parsed) > len(grid) // 2


@pytest.mark.parametrize("raw,expected", [
    ("Sep. 21, 2007", datetime.date(2007, 9, 21)),
    ("21-Sep-2007", datetime.date(2007, 9, 21)),
    ("1-Sep-2007", datetime.date(2007, 9, 1)),
    ("2/30/2021", datetime.date(2021, 2, 28)),
    ("21-Sep-07", datetime.date(2007, 9, 21)),
    ("9/21/2007 4:14:00", datetime.date(2007, 9, 21)),
    ("2007/9/21", datetime.date(2007, 9, 21)),
])
def test_common_spellings_parse_without_dateutil(spark, raw, expected):
    assert _one(spark, raw, lambda c: cv.to_date(c, fuzzy=False)) == expected


def test_year_below_0100_is_left_to_dateutil(spark):
    # dateutil reads this spelling's '0004' as a two-digit year
    fuzzy = _one(spark, "Apr 1, 0004", lambda c: cv.to_date(c, fuzzy=True))
    assert fuzzy == datetime.date(2004, 4, 1)
    assert _one(spark, "4/1/0004", cv.to_date) is None


def test_unparseable_date_is_null(spark):
    assert _one(spark, "not a date", lambda c: cv.to_date(c, fuzzy=True)) is None


def test_to_time(spark):
    assert _one(spark, "04:14:00", cv.to_time) == "04:14:00"
    assert _one(spark, "4:14 PM", cv.to_time) == "16:14:00"


def test_to_datetime_iso(spark):
    got = _one(spark, "1971-01-01T04:14:00",
               lambda c: cv.to_datetime(c))
    assert got == datetime.datetime(1971, 1, 1, 4, 14, 0)


def test_type_cast_schema_driven(spark):
    # typed_scalars table (FIXTURES §2): one column per logical type
    df = spark.createDataFrame(
        [("Chicago Reader", "40", "1.0", "true", "1971-01-01",
          "04:14:00", "1971-01-01T04:14:00")],
        "text string, integer string, float string, boolean string, "
        "date string, time string, datetime string")
    types = [
        {"id": "text", "type": "text"}, {"id": "integer", "type": "int"},
        {"id": "float", "type": "float"}, {"id": "boolean", "type": "bool"},
        {"id": "date", "type": "date"}, {"id": "time", "type": "time"},
        {"id": "datetime", "type": "datetime"},
    ]
    out = cv.type_cast(df, types)
    row = out.collect()[0]
    assert row["integer"] == 40 and row["float"] == 1.0
    assert row["boolean"] is True
    assert row["date"] == datetime.date(1971, 1, 1)
    assert row["time"] == "04:14:00"
    assert row["datetime"] == datetime.datetime(1971, 1, 1, 4, 14)
    kinds = dict(out.dtypes)
    assert kinds["integer"] == "bigint" and kinds["float"] == "double"
    assert kinds["date"] == "date" and kinds["datetime"] == "timestamp"


def test_column_type_predicates(spark):
    from pyspark.sql import functions as F

    from meza_spark.functions import (is_bool_col, is_int_col, is_null_col,
                                      is_numeric_col)

    # corpus mirrors meza tests/test_fntools.py:35-75 incl. the
    # currency-zero regression (#36) and the leading-zero rule
    cases = [
        ("$0.00", True, False), ("2e12", True, False), ("1,000", True, True),
        ("02139", False, False), ("1.5", True, False), ("-42", True, True),
        ("£1,234.56", True, False), ("abc", False, False),
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "s string")
    got = {r["s"]: (r["num"], r["int"]) for r in df.select(
        "s", is_numeric_col(F.col("s")).alias("num"),
        is_int_col(F.col("s")).alias("int")).collect()}
    for s, num, isint in cases:
        assert got[s] == (num, isint), s

    df2 = spark.createDataFrame(
        [("y",), ("FALSE",), ("n/a",), ("",), ("x",)], "s string")
    rows = {r["s"]: (r["b"], r["nl"]) for r in df2.select(
        "s", is_bool_col(F.col("s")).alias("b"),
        is_null_col(F.col("s")).alias("nl")).collect()}
    assert rows["y"] == (True, False)
    assert rows["FALSE"] == (True, False)
    assert rows["n/a"] == (False, True)
    assert rows[""] == (False, True)
    assert rows["x"] == (False, False)


_RESTART = """
import json, sys
sys.path.insert(0, {root!r})
from meza_spark import convert as cv
from meza_spark.session import get_spark

rows = [("1", "2/32/82"), ("2", "2001-03-04"), ("3", "na")]
types = [{{"id": "n", "type": "int"}}, {{"id": "d", "type": "date"}}]


def cast(app):
    s = get_spark(app, master="local[1]", shuffle_partitions=1)
    df = s.createDataFrame(rows, "n string, d string")
    return s, sorted((r.n, str(r.d)) for r in cv.type_cast(df, types).collect())


s1, first = cast("cast_a")
s1.stop()
s2, second = cast("cast_b")
print(json.dumps({{"first": first, "second": second}}))
s2.stop()
"""


def test_type_cast_memo_survives_session_restart():
    # a subprocess, so the shared session fixture is never stopped; the
    # fuzzy-date UDF must report to the live context's accumulator
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _RESTART.format(root=root)],
                         env=env, capture_output=True, text=True,
                         timeout=600, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["first"] == res["second"] == [
        [1, "1982-02-28"], [2, "2001-03-04"], [3, "None"]]
    assert "Failed to update accumulator" not in out.stderr
