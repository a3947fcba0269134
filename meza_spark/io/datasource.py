"""Spark 4 Python DataSource for meza's non-splittable formats.

SURVEY §4.2.3: xls(x)/yaml/html/geojson can't be split inside a file —
the scale unit is the FILE. This source makes that explicit in the
engine's own vocabulary: ``spark.read.format("meza")`` plans **one
input partition per file**, each parsed on an executor by the record
function its ``read_*`` reader runs per file (``read_xls``,
``read_yaml``, ``read_html``, ``read_geojson``, default options); a
directory of 10k xlsx exports becomes a 10k-task scan, which is
exactly how far such formats parallelize.

Usage::

    spark.dataSource.register(MezaDataSource)
    df = (spark.read.format("meza")
          .option("path", "/data/exports")      # file or directory
          .option("fmt", "xlsx")                # xlsx|xls|yaml|geojson|html
          .load())

Contract: the ``read_*`` records as strings (null stays null), columns
in first-seen order (meza's reader contract — type them with
``detect_types`` + ``type_cast``). The schema
comes from a driver parse of the first file; ragged files fill missing
keys with null (SURVEY §1.1).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from .readers import (_all_files, _geojson_records, _html_records,
                      _xls_records, _yaml_records)

__all__ = ["MezaDataSource", "register"]

# fmt option → the record function its ``read_*`` reader runs per file
# (with that reader's default options)
_RECORDS = {
    "xlsx": _xls_records, "xls": _xls_records,
    "yaml": _yaml_records, "yml": _yaml_records,
    "geojson": _geojson_records,
    "html": _html_records, "htm": _html_records,
}


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _MezaReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._records = _RECORDS[options["fmt"].lower()]
        self._files = _all_files(options["path"])

    def partitions(self):
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition):
        cols = [f.name for f in self._schema.fields]
        for rec in self._records(partition.path):
            yield tuple(None if rec.get(c) is None else str(rec.get(c))
                        for c in cols)


class MezaDataSource(DataSource):
    """``format("meza")`` — per-file-parallel scan of non-splittable
    formats (xlsx/xls/yaml/geojson/html)."""

    @classmethod
    def name(cls) -> str:
        return "meza"

    def schema(self):
        fmt = self.options.get("fmt", "").lower()
        if fmt not in _RECORDS:
            raise ValueError(
                f"option 'fmt' must be one of {tuple(_RECORDS)}, got {fmt!r}")
        rows = _RECORDS[fmt](_all_files(self.options["path"])[0])
        cols: list[str] = []
        seen: set[str] = set()
        for r in rows:
            for k in r:
                if k not in seen:
                    seen.add(k)
                    cols.append(str(k))
        return StructType([StructField(c, StringType()) for c in cols])

    def reader(self, schema: StructType) -> DataSourceReader:
        return _MezaReader(schema, dict(self.options))


def register(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(MezaDataSource)
