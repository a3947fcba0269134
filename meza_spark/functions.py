"""Scalar helpers (reference: meza/fntools.py).

Two audiences:
  - driver-side name utilities (header hygiene: ``underscorify``,
    ``dedupe_names``, ``find_names``) — plain Python, they act on
    column NAMES not data;
  - Column expression builders (``mreplace``, ``add_ordinal``,
    ``xmlize``, ``strip_separators``) — JVM-side, codegen-friendly.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import BOOL_FALSE, BOOL_TRUE, CURRENCY_RE, FLOAT_RE, INT_RE
from .convert import _trim, nullify

__all__ = [
    "underscorify", "dedupe_names", "find_names", "mreplace", "rreplace",
    "add_ordinal", "xmlize", "strip_separators", "get_separators",
    "is_int_col", "is_numeric_col", "is_bool_col", "is_null_col",
]


def underscorify(name: str) -> str:
    """Slugify a header to lower_snake_case (ref: meza/fntools.py:267-285
    — the reference uses python-slugify; same contract, stdlib impl)."""
    s = re.sub(r"[^\w\s-]", "", name, flags=re.UNICODE)
    s = re.sub(r"[-\s]+", "_", s.strip())
    return s.lower()


def dedupe_names(names: Sequence[str]) -> list[str]:
    """Suffix duplicate names field, field_2, field_3
    (ref: meza/fntools.py:325-344)."""
    seen: dict[str, int] = {}
    out = []
    for n in names:
        if n in seen:
            seen[n] += 1
            out.append(f"{n}_{seen[n]}")
        else:
            seen[n] = 1
            out.append(n)
    return out


def find_names(haystack: Sequence[str], needles: Sequence[str],
               fuzzy: bool = False) -> str | None:
    """Word-overlap search between name lists (ref:
    meza/fntools.py:859-903 ``find``): first haystack entry matching
    any needle (exact, or substring when fuzzy)."""
    for h in haystack:
        for n in needles:
            if (fuzzy and n.lower() in h.lower()) or h.lower() == n.lower():
                return h
    return None


def mreplace(c: Column, replacements: Sequence[tuple[str, str]]) -> Column:
    """Multi-pair string replace (ref: meza/fntools.py:347-363) as a
    chain of JVM ``replace`` calls."""
    for old, new in replacements:
        c = F.replace(c, F.lit(old), F.lit(new))
    return c


def rreplace(arr: Column, old: str, new: str) -> Column:
    """Replace inside an array of strings (ref: meza/fntools.py:366-391
    recursive replace; one level — Spark arrays are typed)."""
    return F.transform(arr, lambda x: F.replace(x, F.lit(old), F.lit(new)))


def add_ordinal(c: Column) -> Column:
    """1→1st, 2→2nd, 3→3rd, 11→11th (ref: meza/fntools.py:839-856)."""
    n = c.cast("bigint")
    mod100 = F.pmod(n, 100)
    mod10 = F.pmod(n, 10)
    suffix = (F.when(mod100.isin(11, 12, 13), "th")
               .when(mod10 == 1, "st")
               .when(mod10 == 2, "nd")
               .when(mod10 == 3, "rd")
               .otherwise("th"))
    return F.concat(n.cast("string"), suffix)


def xmlize(c: Column) -> Column:
    """Escape & < > (ref: meza/fntools.py:724-752). Order matters:
    & first."""
    return mreplace(c, [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")])


def get_separators(sample: str) -> tuple[str, str]:
    """Infer (thousands, decimal) separators from a sample numeric
    string (ref: meza/fntools.py:755-836 afterish/get_separators):
    '1,234.56' → (',', '.'); '1.234,56' → ('.', ',')."""
    commas = [m.start() for m in re.finditer(",", sample)]
    dots = [m.start() for m in re.finditer(r"\.", sample)]
    if commas and dots:
        return (",", ".") if commas[-1] < dots[-1] else (".", ",")
    if commas:
        # one trailing comma group of !=3 digits → decimal comma
        tail = len(sample) - commas[-1] - 1
        return ("", ",") if len(commas) == 1 and tail != 3 else (",", ".")
    if dots:
        tail = len(sample) - dots[-1] - 1
        return (".", ",") if len(dots) > 1 or tail == 3 else ("", ".")
    return (",", ".")


def strip_separators(c: Column, thousands: str = ",",
                     decimal: str = ".") -> Column:
    """Normalize a locale-formatted numeric string to parseable form
    (ref: meza/fntools.py:426-451 with explicit separators)."""
    if thousands:
        c = F.replace(c, F.lit(thousands), F.lit(""))
    if decimal != ".":
        c = F.replace(c, F.lit(decimal), F.lit("."))
    return c


# ---------------------------------------------------------------------------
# Column-level type predicates (ref: meza/fntools.py:454-586)
# ---------------------------------------------------------------------------
# Built from the package's value grammar (meza_spark/__init__.py), which
# typetools.guess_type_by_value also compiles, so both classify every
# string alike: currency symbols and thousands separators allowed
# anywhere, leading-zero strings like '02139' NOT numeric (ref:
# meza/fntools.py:490-494). A SQL null gives null, except in is_null_col.


def _bare_number_is(c: Column, pattern: str) -> Column:
    """True where the trimmed value, currency class removed, is wholly
    ``pattern``."""
    bare = F.regexp_replace(_trim(c), CURRENCY_RE, "")
    return bare.rlike(rf"^(?:{pattern})\z")


def is_int_col(c: Column) -> Column:
    """True where the value parses as an int under meza semantics."""
    return _bare_number_is(c, INT_RE)


def is_numeric_col(c: Column) -> Column:
    """True where the value is int- or float-parseable (currency and
    thousands separators allowed; '02139' excluded)."""
    return _bare_number_is(c, f"{INT_RE}|{FLOAT_RE}")


def is_bool_col(c: Column) -> Column:
    """True for meza's truthy/falsey words (yes/y/true/t/no/n/false/f)."""
    return F.lower(_trim(c)).isin(list(BOOL_TRUE + BOOL_FALSE))


def is_null_col(c: Column) -> Column:
    """True for SQL null, empty string, and meza's null words
    (na/n/a/none/null/.)."""
    return nullify(c).isNull()
