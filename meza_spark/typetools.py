"""Sampling type inference (reference: meza/typetools.py + detect_types
in meza/process.py:263-358).

meza infers a schema by voting: field *names* seed the tally (weight 6),
then each sampled row's *values* vote through a predicate ladder
(null → bool → int → float → datetime → time → date → text), stopping
when a log-asymptotic confidence passes ``min_conf`` or ``max_iter``
rows are consumed.

Spark-first shape: ONE bounded driver-side sampling job —
``df.limit(max_iter)`` (ordered head, not ``sample()``, to match the
reference's deterministic first-N semantics, SURVEY §7 hard-part 2) —
then pure-Python voting over that tiny sample. The full dataset is
never touched; the result feeds ``convert.type_cast`` which runs
distributed.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame

from . import (BOOL_FALSE, BOOL_TRUE, CURRENCY_RE, FLOAT_RE, INT_RE,
               NULL_WORDS, TRIM_CHARS)

__all__ = ["detect_types", "guess_type_by_field", "guess_type_by_value"]

# meza's value grammar (meza_spark/__init__.py), the same strings the
# Column predicates in functions.py run in the JVM. The currency class
# strips anywhere, as the reference's fntools.strip does
# (meza/fntools.py:426-451): '41800000.01,' (a separator-mangled
# fixed-width field) still reads as numeric.
_CURRENCY = re.compile(CURRENCY_RE)
_INT = re.compile(INT_RE).fullmatch
_FLOAT = re.compile(FLOAT_RE).fullmatch
_TIME_RE = re.compile(r"^\d{1,2}:\d{2}(:\d{2})?(\s*[aApP][mM])?$")
_DATE_RE = re.compile(
    r"^(\d{4}[-/]\d{1,2}[-/]\d{1,2}|\d{1,2}[-/]\d{1,2}[-/]\d{2,4}|"
    r"\d{1,2}-[A-Za-z]{3}-\d{2,4}|[A-Za-z]{3,9}\.?\s+\d{1,2},?\s+\d{4})$")
_DATETIME_RE = re.compile(
    r"^\d{4}[-/]\d{1,2}[-/]\d{1,2}[T ]\d{1,2}:\d{2}(:\d{2})?(\.\d+)?"
    r"([+-]\d{2}:?\d{2}|Z)?$")


def guess_type_by_field(name: str) -> str:
    """Name heuristics (ref: meza/typetools.py:36-81): count→int,
    {value,length,width,days}→float, date&time→datetime, time→time,
    date→date, else text."""
    n = name.lower()
    if "count" in n:
        return "int"
    if any(w in n for w in ("value", "length", "width", "days", "amount",
                            "price", "qty", "quantity")):
        return "float"
    if "date" in n and "time" in n:
        return "datetime"
    if "time" in n:
        return "time"
    if "date" in n:
        return "date"
    return "text"


def guess_type_by_value(value: Any) -> str:
    """Predicate ladder (ref: meza/typetools.py:85-171, predicate order
    :152-161): null → bool → int → float → datetime → time → date → text.

    Notable parity details: currency strings are numeric; leading-zero
    strings like '02139' are NOT numeric (ref: meza/fntools.py:490-494).
    """
    import datetime as dt
    import decimal

    if value is None:
        return "null"
    if isinstance(value, bool):
        return "bool"
    if isinstance(value, int):
        return "int"
    if isinstance(value, (float, decimal.Decimal)):
        return "float"
    if isinstance(value, dt.datetime):
        return "datetime"
    if isinstance(value, dt.time):
        return "time"
    if isinstance(value, dt.date):
        return "date"
    s = str(value).strip(TRIM_CHARS)
    low = s.lower()
    if not s or low in NULL_WORDS:
        return "null"
    if low in BOOL_TRUE or low in BOOL_FALSE:
        return "bool"
    bare = _CURRENCY.sub("", s)
    if _INT(bare):
        return "int"
    if _FLOAT(bare):
        return "float"
    if _DATETIME_RE.match(s):
        return "datetime"
    if _TIME_RE.match(s):
        return "time"
    if _DATE_RE.match(s):
        return "date"
    return "text"


# compatible-type widening (ref: meza/process.py:237-241 gen_types)
def _widen(types: set[str]) -> str:
    types = types - {"null"}
    if not types:
        return "text"
    if len(types) == 1:
        return next(iter(types))
    if types <= {"float", "int"}:
        return "float"
    if types <= {"date", "time", "datetime"}:
        return "datetime"
    if types <= {"bool", "int"}:
        return "int"
    return "text"


def _confidence(count: int, a: float = 6) -> float:
    """Log-asymptotic confidence a·ln(1+x)/(1+a·ln(1+x))
    (ref: meza/process.py:258-260 gen_confidences, a = hweight)."""
    x = a * math.log1p(count)
    return round(x / (1 + x), 2)


def detect_types(source: DataFrame | Iterable[dict],
                 min_conf: float = 0.95, max_iter: int = 100,
                 hweight: int = 6):
    """Infer a meza type-descriptor list from a bounded sample
    (ref: meza/process.py:263-358).

    Returns ``(source, result)`` with
    ``result = {'types': [{'id','type'}...], 'confidence': float,
    'count': n, 'accuracy': ...}`` matching the reference's result shape
    (meza/process.py:351-356). For a DataFrame the sample is
    ``df.limit(max_iter)`` — deterministic ordered head, one job.
    """
    if isinstance(source, DataFrame):
        rows = [r.asDict() for r in source.limit(max_iter).collect()]
        names = source.columns
    else:
        rows = []
        it = iter(source)
        for _ in range(max_iter):
            try:
                rows.append(next(it))
            except StopIteration:
                break
        names = list(rows[0].keys()) if rows else []

    # Votes come from VALUES ONLY. The reference's header-name guesses
    # (guess_type_by_field) never reach its tally: meza/process.py:328-332
    # consumes the ftypes generator building the dict, so the follow-up
    # `[iadd(tally[...][...], hweight)]` iterates an exhausted generator
    # (and iadd on an int is a no-op anyway) — verified by running the
    # reference detect_types directly. hweight only weights the
    # confidence formula (gen_confidences, meza/process.py:258-260).
    tally: dict[str, dict[str, int]] = {n: {} for n in names}

    def _pick(votes: dict[str, int]) -> str:
        # reference gen_types (meza/process.py:205-241): the SET of
        # observed types decides — null drops out, a single survivor
        # wins, compatible sets merge ({float,int}→float,
        # {date,time,datetime}→datetime, {bool,int}→int), anything
        # else → text. Counts don't matter.
        non_null = {t for t in votes if t != "null"}
        if not non_null:
            # all-null column: the reference yields type 'null' here;
            # we widen to text (same rendering — every value is empty)
            return "text"
        if len(non_null) == 1:
            return next(iter(non_null))
        return _widen(non_null)

    count = 0
    confidence = 0.0
    types: list[dict[str, str]] = [{"id": n, "type": "text"}
                                   for n in names]
    for row in rows:
        count += 1
        for n in names:
            t = guess_type_by_value(row.get(n))
            tally[n][t] = tally[n].get(t, 0) + 1
        types = [{"id": n, "type": _pick(tally[n])} for n in names]
        # reference confidence (meza/process.py:258-260): per-field
        # a·ln(1+votes_for_chosen)/(1+same), a=hweight; overall = min
        confidence = min(
            (_confidence(tally[n].get(t["type"],
                                      tally[n].get("null", 0)), hweight)
             for n, t in zip(names, types)), default=0.0)
        if confidence >= min_conf:
            break

    result = {
        "types": types,
        "confidence": confidence,
        "count": count,
        "accuracy": min_conf,
        # reference result key (meza/process.py:352-356)
        "accurate": confidence >= min_conf,
    }
    return source, result
