"""Format router: file extension → reader format.

Reference parity (`src/data_source/utils.rs:5-26`, enum at
`src/data_source/schema.rs:3-10`):

- ``.csv`` → CSV, ``.tsv`` → TSV
- ``.log`` / ``.txt`` → NdJSON (line-delimited JSON)
- ``.json`` → explicitly rejected ("JSON files are currently not
  supported.", `src/data_source/context.rs:58-62`)
- ``.xlsx`` → Excel
- unknown → error

Documented supersets: ``.parquet`` (claimed in the reference README but
never wired — SURVEY.md §2.A note) and ``.orc`` (Spark-native columnar,
free to support).
"""

from __future__ import annotations

import enum
import os

from easydb_server_spark.errors import UnsupportedFormatError


class DataSourceFormat(enum.Enum):
    CSV = "csv"
    TSV = "tsv"
    NDJSON = "ndjson"
    XLSX = "xlsx"
    PARQUET = "parquet"  # superset
    ORC = "orc"  # superset
    JSON = "json"  # recognized but rejected


_EXT_MAP = {
    ".csv": DataSourceFormat.CSV,
    ".tsv": DataSourceFormat.TSV,
    ".log": DataSourceFormat.NDJSON,
    ".txt": DataSourceFormat.NDJSON,
    ".xlsx": DataSourceFormat.XLSX,
    ".parquet": DataSourceFormat.PARQUET,
    ".orc": DataSourceFormat.ORC,
    ".json": DataSourceFormat.JSON,
}


def split_sheet(path: str) -> tuple[str, str | None]:
    """Split an xlsx ``path#SheetName`` suffix off
    (`src/data_source/excel.rs:11-101`): ``('wb.xlsx', 'Sheet2')`` for
    ``'wb.xlsx#Sheet2'``; any other path comes back whole with no
    sheet, so a ``#`` inside another file's name stays part of it."""
    base, sep, sheet = path.rpartition("#")
    if sep and os.path.splitext(base)[1].lower() == ".xlsx":
        return base, sheet
    return path, None


def get_format(path: str) -> DataSourceFormat:
    """Route by extension (of the path without an xlsx sheet suffix);
    JSON is recognized-but-rejected at read time."""
    _, ext = os.path.splitext(split_sheet(path)[0])
    fmt = _EXT_MAP.get(ext.lower())
    if fmt is None:
        raise UnsupportedFormatError(f"Unsupported file format: {path!r}")
    return fmt


def has_known_extension(name: str) -> bool:
    """Is this table-factor name path-shaped (has a routable extension)?

    Mirrors the reference's check that decides whether a FROM name is a
    file path (`src/data_source/context.rs:94-101`).
    """
    _, ext = os.path.splitext(name)
    return ext.lower() in _EXT_MAP
