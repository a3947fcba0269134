"""Messy-string cast expression pack (reference: meza/convert.py).

meza's casts are permissive scalar functions applied row-at-a-time:
currency stripping, separator inference, truthy-word booleans, fuzzy
dates with impossible-day repair, and a null-word list. Here each cast
is a **Column expression builder** — the hot path stays JVM-side
(regexp_replace / try_cast / to_timestamp inside WholeStageCodegen);
only the fuzzy-date fallback drops to an Arrow-batched pandas UDF, and
then only over the rows native parsing failed (tiered cast — see
SURVEY §7 hard-part 1). Dates are cast in two tiers: a regex shape
dispatch gives meza's common spellings one native parse each (ISO,
``M/d/yyyy`` with the impossible-day repair, ``M/d/yyyy H:mm:ss``,
``M/d/yy``, ``yyyy/M/d``, ``yyyyMMdd``, ``Sep. 21, 2007``,
``September 21, 2007``, ``21-Sep-2007``, ``21-Sep-07``), and dateutil
takes only what the shapes missed. The trim rule, currency class and
null words come from the package's one value grammar.

Reference semantics implemented:
  to_bool     meza/convert.py:101-157  (truthy words, fntools.py:47-48)
  to_int      meza/convert.py:160-211  (currency strip, fntools.py:426-451)
  to_float    meza/convert.py:214-252
  to_decimal  meza/convert.py:255-313  (places=2, ROUND_HALF_UP)
  to_date/time/datetime  meza/convert.py:316-510 (fuzzy parse, day repair)
  null words  meza/fntools.py:572
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import BOOL_FALSE, BOOL_TRUE, CURRENCY_RE, NULL_WORDS, TRIM_CHARS

__all__ = [
    "to_bool", "to_int", "to_float", "to_decimal", "to_date", "to_time",
    "to_datetime", "type_cast", "strip_currency", "nullify",
]

_NULL_WORDS_ARR = list(NULL_WORDS) + [""]


def _trim(c: Column) -> Column:
    """The value as a string with the grammar's ``TRIM_CHARS`` off both
    ends."""
    return F.trim(c.cast("string"), F.lit(TRIM_CHARS))


def nullify(c: Column) -> Column:
    """Map meza's null-word list ('na','n/a','none','null','.') and empty
    string to real NULL (ref: meza/fntools.py:572 ``is_null``); other
    values come back trimmed."""
    s = _trim(c)
    return F.when(F.lower(s).isin(_NULL_WORDS_ARR), F.lit(None)).otherwise(s)


def strip_currency(c: Column) -> Column:
    """Strip currency symbols, thousand separators and whitespace from a
    numeric string (ref: meza/fntools.py:426-451 ``strip``).
    Parenthesized accounting negatives '(123)' become '-123'."""
    s = F.regexp_replace(c.cast("string"), CURRENCY_RE + r"|\s", "")
    return F.when(s.rlike(r"^\(.*\)$"),
                  F.concat(F.lit("-"), F.regexp_replace(s, r"[()]", ""))
                  ).otherwise(s)


def to_bool(c: Column) -> Column:
    """Truthy-word boolean cast (ref: meza/convert.py:101-157).

    'yes','y','true','t' (case-insensitive) and nonzero numbers → true;
    'no','n','false','f', 0 → false; null-words → null; anything else →
    false (meza's permissive default).
    """
    s = F.lower(nullify(c))
    return (
        F.when(s.isNull(), F.lit(None).cast("boolean"))
        .when(s.isin(list(BOOL_TRUE)), F.lit(True))
        .when(s.isin(list(BOOL_FALSE)), F.lit(False))
        .when(s.try_cast("double").isNotNull(), s.try_cast("double") != 0)
        .otherwise(F.lit(False))
    )


def to_int(c: Column, strict: bool = False) -> Column:
    """Currency-aware int cast (ref: meza/convert.py:160-211).

    Strips currency symbols, thousands separators and whitespace,
    truncates decimals toward zero (meza: ``int(float(x))``). Permissive
    mode maps failures to 0 (meza's default); ``strict=True`` yields
    null instead (the engine-native analogue of ``warn=True``).
    """
    n = nullify(c)
    # int(float) in Python truncates toward zero; Spark double→bigint cast
    # also truncates toward zero. try_cast: ±Infinity/overflow → null
    # instead of an ANSI CAST_OVERFLOW runtime error. A null word stays
    # null in both modes.
    i = strip_currency(n).try_cast("double").try_cast("bigint")
    return i if strict else F.when(n.isNotNull(), F.coalesce(i, F.lit(0)))


def to_float(c: Column, strict: bool = False) -> Column:
    """Currency-aware float cast (ref: meza/convert.py:214-252);
    failures → 0.0 permissive / null strict."""
    n = nullify(c)
    d = strip_currency(n).try_cast("double")
    return d if strict else F.when(n.isNotNull(), F.coalesce(d, F.lit(0.0)))


def to_decimal(c: Column, places: int = 2, precision: int = 38) -> Column:
    """Decimal cast quantized to ``places`` with ROUND_HALF_UP
    (ref: meza/convert.py:255-313). Spark's round() is HALF_UP for
    decimals, matching meza's default rounding."""
    s = strip_currency(nullify(c))
    d = s.try_cast(f"decimal({precision},{min(places + 6, 37)})")
    return F.round(d, places).cast(f"decimal({precision},{places})")


# --- dates -----------------------------------------------------------------

# A four-digit year of 0100 or later. dateutil reads '0004' in some
# spellings as a two-digit year ('Apr 1, 0004' → 2004) and in others
# literally ('4/1/0004' → year 4), so years below 0100 are its job in
# every shape.
_Y4 = r"(0[1-9]|[1-9]\d)\d\d"


def _fuzzy_ts_fn(s: pd.Series) -> pd.Series:
    """Arrow-batched dateutil fallback with meza's impossible-day repair
    (ref: meza/convert.py:374-436): '2/32/82' retries day 31→30→29→28.
    Unparseable → NaT (engine-native null instead of the reference's
    NULL_DATETIME 9999-12-31 sentinel, SURVEY §1.5)."""
    from dateutil import parser as dparser

    def parse(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        v = str(v).strip()
        if not v or v.lower() in NULL_WORDS:
            return None
        try:
            return dparser.parse(v, fuzzy=True)
        except (ValueError, OverflowError):
            # impossible-day repair: walk the day component down
            import re
            m = re.match(r"^(\d{1,2})/(\d{1,2})/(\d{2,4})(.*)$", v)
            if m:
                mon, day, yr, rest = m.groups()
                for d in range(min(int(day), 31), 27, -1):
                    try:
                        return dparser.parse(f"{mon}/{d}/{yr}{rest}", fuzzy=True)
                    except (ValueError, OverflowError):
                        continue
            return None

    return s.map(parse)


def to_datetime(c: Column, fuzzy: bool = False) -> Column:
    """Two-tier timestamp cast (ref: meza/convert.py:374-436).

    Tier 0: a regex picks the row's shape and makes one native parse,
    JVM-side and codegen'd:

    - ISO ``yyyy-MM-dd`` with an optional time;
    - ``M/d/yyyy``; a day of 29-99 its month lacks becomes the month's
      last day, as meza's repair walk (31 → 28) does;
      ``M/d/yyyy H:mm:ss``;
    - ``M/d/yy``, with dateutil's two-digit-year window; ``yyyy/M/d``;
      ``yyyyMMdd``;
    - ``MMM d, yyyy`` with an optional period (``Sep. 21, 2007``),
      ``MMMM d, yyyy``, ``d-MMM-yyyy`` and ``d-MMM-yy`` (month names
      in any case).

    A four-digit year must be 0100 or later. Tier 1 (``fuzzy=True``):
    rows no shape parsed go through the dateutil pandas UDF, which
    takes every other spelling (``Sept.``, ``21-September-2007``, years
    below 0100, repairs of two-digit years). Where tier 0 parses a row
    it returns dateutil's value. At 100 TB keep ``fuzzy=False`` unless
    the column is known-messy: the UDF runs only on native misses but
    still forces those rows through Python.
    """
    s = nullify(c)

    def repivot(e):
        # dateutil resolves 2-digit years inside a ±50y window around
        # today ('82'→1982); Spark's yy pivots into 20xx. Re-pivot.
        return F.when(F.year(e) > F.year(F.current_date()) + 49,
                      F.add_months(e, -1200)).otherwise(e)

    # meza's impossible-day repair for M/d/yyyy, JVM-side: walking the
    # day down from 31 to 28 until dateutil accepts it lands on the
    # month's last day whenever the day is 29-99.
    mdy = F.split(s, "/")
    mon, day, yr = (mdy.getItem(i).try_cast("int") for i in range(3))
    month_end = F.when(mon.between(1, 12) & day.between(29, 99),
                       F.last_day(F.make_date(yr, mon, F.lit(1)))
                       .cast("timestamp"))

    def parse(fmt):
        return F.try_to_timestamp(s, F.lit(fmt))

    # exactly one parse attempt per row, picked by the row's shape
    native = (
        F.when(s.rlike("^" + _Y4 + r"-\d{2}-\d{2}([T ]\d{1,2}:\d{2}(:\d{2})?(\.\d+)?)?$"),
               F.try_to_timestamp(s))
        .when(s.rlike(r"^\d{1,2}/\d{1,2}/" + _Y4 + "$"),
              F.coalesce(parse("M/d/yyyy"), month_end))
        .when(s.rlike(r"^\d{1,2}/\d{1,2}/" + _Y4 + r" \d{1,2}:\d{2}:\d{2}$"),
              parse("M/d/yyyy H:mm:ss"))
        .when(s.rlike(r"^\d{1,2}/\d{1,2}/\d{2}$"), repivot(parse("M/d/yy")))
        .when(s.rlike("^" + _Y4 + r"/\d{1,2}/\d{1,2}$"), parse("yyyy/M/d"))
        .when(s.rlike("^" + _Y4 + r"\d{4}$"), parse("yyyyMMdd"))
        .when(s.rlike(r"^[A-Za-z]{3}\.? \d{1,2}, " + _Y4 + "$"),
              F.try_to_timestamp(F.regexp_replace(s, r"\.", ""),
                                 F.lit("MMM d, yyyy")))
        .when(s.rlike(r"^[A-Za-z]{4,9} \d{1,2}, " + _Y4 + "$"),
              parse("MMMM d, yyyy"))
        .when(s.rlike(r"^\d{1,2}-[A-Za-z]{3}-" + _Y4 + "$"), parse("d-MMM-yyyy"))
        .when(s.rlike(r"^\d{1,2}-[A-Za-z]{3}-\d{2}$"), repivot(parse("d-MMM-yy")))
    )
    if not fuzzy:
        return native
    # Catalyst extracts Python UDFs into an eval node that runs for
    # EVERY row regardless of coalesce laziness — so mask the UDF's
    # input to null where tier 0 already parsed: the Arrow transfer
    # still happens, but dateutil (the expensive part) only runs on
    # actual tier-0 misses.
    fuzzy_ts = pandas_udf(_fuzzy_ts_fn, "timestamp")
    return F.coalesce(native, fuzzy_ts(F.when(native.isNull(), s)))


def to_date(c: Column, fuzzy: bool = False) -> Column:
    """Date cast (ref: meza/convert.py:440-470)."""
    return to_datetime(c, fuzzy=fuzzy).cast("date")


def to_time(c: Column) -> Column:
    """Standalone time-of-day (ref: meza/convert.py:474-510). Spark has
    no TIME type (SURVEY §1.5) → canonical 'HH:mm:ss' string."""
    s = nullify(c)
    ts = F.coalesce(
        F.try_to_timestamp(s, F.lit("HH:mm:ss")),
        F.try_to_timestamp(s, F.lit("H:mm")),
        F.try_to_timestamp(s, F.lit("h:mm:ss a")),
        F.try_to_timestamp(s, F.lit("h:mm a")),
        to_datetime(s),
    )
    return F.date_format(ts, "HH:mm:ss")


# --- schema-driven cast ----------------------------------------------------

_CASTERS = {
    "null": lambda c: F.lit(None).cast("string"),
    "bool": to_bool,
    "int": to_int,
    "float": to_float,
    "decimal": to_decimal,
    "date": lambda c: to_date(c, fuzzy=True),
    "time": to_time,
    "datetime": lambda c: to_datetime(c, fuzzy=True),
    "text": lambda c: c.cast("string"),
    "iden": lambda c: c,
}


# Built-cast memo (optimization r10, guide §7.3 driver-side work):
# a tiered date caster is a 100+-node Column tree — one py4j
# round-trip per node — measured at ~0.6 s of pure construction per
# type_cast projection (rebuilt twice per bench timing). The tree is
# a pure function of (type, column name, fuzzy) and Column expression
# trees are immutable (Catalyst never mutates an unresolved
# expression), so cache them. Keyed by SparkContext: a fuzzy caster
# holds a pandas UDF bound to its context's Python accumulator, which
# a stopped context no longer serves. Plan metadata only — no data,
# no results.
_CAST_MEMO: dict[tuple, Column] = {}


def type_cast(df: DataFrame, types: Sequence[dict], fuzzy: bool = True) -> DataFrame:
    """Apply a meza type descriptor list ``[{'id': field, 'type': t}]``
    (ref: meza/process.py:97-115 dispatch table) as one projection.

    All ten logical types supported: null, bool, int, float, decimal,
    date, time, datetime, text, iden.
    """
    by_field = {t["id"]: t["type"] for t in types}
    sc = df.sparkSession.sparkContext
    cols = []
    for name in df.columns:
        t = by_field.get(name, "iden")
        key = (sc, t, name, bool(fuzzy))
        col = _CAST_MEMO.get(key)
        if col is None:
            for k in [k for k in _CAST_MEMO if k[0] is not sc]:
                del _CAST_MEMO[k]
            if not fuzzy and t in ("date", "datetime"):
                col = (to_datetime(F.col(name)).cast(
                    "date" if t == "date" else "timestamp")).alias(name)
            else:
                col = _CASTERS[t](F.col(name)).alias(name)
            _CAST_MEMO[key] = col
        cols.append(col)
    return df.select(*cols)
