"""meza_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of reubano/meza, re-expressed Spark-first.

The reference (meza, /root/reference) is a pure-Python, row-at-a-time,
generator-of-dicts ETL toolkit (see SURVEY.md). This package provides the
same surface — readers, messy-string type casts, sampling type inference,
and ~20 relational/dataflow operators — as declarative DataFrame
transformations so Catalyst/Tungsten handle optimization, shuffling,
codegen, and scale-out. Nothing here materializes data on the driver
unless the result is explicitly small (e.g. ``peek``/``detect_types``
samples).

Layout:
    meza_spark.process    relational/dataflow operators (ref: meza/process.py)
    meza_spark.convert    messy-string cast expression pack (ref: meza/convert.py)
    meza_spark.typetools  sampling type inference (ref: meza/typetools.py)
    meza_spark.functions  scalar helpers (ref: meza/fntools.py)
    meza_spark.io         readers/writers (ref: meza/io.py)
    meza_spark.llm        LLM-data-pipeline ops (dedup, similarity, text)
    meza_spark.streaming  Structured Streaming variants
    meza_spark.session    SparkSession factory tuned for the engine
"""

__version__ = "0.1.0"

# Pin BLAS pools to one thread per process (classic Spark+numpy fix;
# optimization r10, guide §1.2/§4). Every numpy matmul otherwise spins
# up the library-wide thread pool PER PYTHON WORKER: on a 32-core
# executor that is 32 tasks × N BLAS threads fighting over the same
# cores plus the pool's spin-wait tax — measured on this box at 40×
# on the small driver-side fit matmuls (2000×8 @ 8×64: 55 ms → 1.4 ms
# single-threaded) and it oversubscribes every Arrow-batch kernel the
# same way. The engine's linear algebra is deliberately
# many-small-ops inside already-parallel tasks, where a per-op thread
# fan-out can only lose. ``setdefault`` so an operator deploying on a
# one-task-per-many-cores topology can still override from the
# environment. Must run before numpy first loads the BLAS, hence here
# in the package root (imported ahead of any engine module).
import os as _os

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
           "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")
del _os, _v

ENCODING = "utf-8"

# --- meza's value grammar (ref: meza/fntools.py:426-586) -------------------
# One definition for both engines: typetools.guess_type_by_value compiles
# these strings with Python ``re``; the Column predicates
# (functions.is_*_col) and casts (convert) run them in the JVM.

# Currency symbols stripped by the numeric casts (ref: meza/__init__.py:31)
CURRENCIES = ("$", "£", "€")
# Currency symbols and the thousands separator, removed anywhere in a
# value before the number patterns apply (ref: meza/fntools.py:426-451)
CURRENCY_RE = "[" + "".join(CURRENCIES) + ",]"
# Trimmed off both ends of a value: the ASCII set both engines spell \s
TRIM_CHARS = " \t\n\r\x0b\x0c"
# Whole-value number patterns, ASCII digits only, with meza's
# leading-zero rule: '02139', '00' and '0e5' are text; '0', '-0' and
# '0.5' are numbers (ref: meza/fntools.py:490-494).
INT_RE = r"[+-]?(0|[1-9][0-9]*)"
FLOAT_RE = r"[+-]?([0-9]*\.[0-9]+|([0-9]+\.[0-9]*|[1-9][0-9]*)[eE][+-]?[0-9]+)"

# Null-word list recognized by the casts (ref: meza/fntools.py:572)
NULL_WORDS = ("na", "n/a", "none", "null", ".")

# Truthy/falsy word lists for to_bool (ref: meza/fntools.py:47-48)
BOOL_TRUE = ("yes", "y", "true", "t")
BOOL_FALSE = ("no", "n", "false", "f")
