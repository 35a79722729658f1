"""xlsx reader: glob-expanded pandas loads → one Spark DataFrame.

Reference behavior (`src/data_source/excel.rs:11-101`):
- ``path#SheetName`` suffix selects a sheet; default first sheet;
- header = row 0; rows appended across all glob-matched workbooks;
- types from header-row cells (kept *deviation*: we use real pandas
  inference per SURVEY.md §7.4 recommendation, documented superset).

The default loader is the vendored stdlib-only OOXML decoder
(``sources/xlsx_codec.py`` — zipfile + xml.etree), so real workbooks
read with zero third-party engines, matching the reference's native
support. ``set_excel_loader`` remains the injection seam for tests or
an openpyxl/calamine-backed loader.

Scale note (SURVEY.md §7.4 risk 6): every workbook loads on the driver,
the reference's semantics. For many or huge workbooks the scale shape
is ``spark.read.format("binaryFile")`` + ``mapInPandas``, decoding each
workbook on an executor with ``xlsx_codec.load_xlsx_bytes``; it is not
built, because it needs the result schema up front (the driver opens no
file) and no request path could supply one.
"""

from __future__ import annotations

import glob as _glob
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.errors import NotFoundError
from easydb_server_spark.sources.formats import split_sheet
from easydb_server_spark.sources.xlsx_codec import load_xlsx

_loader: Callable[[str, str | int], pd.DataFrame] | None = None


def set_excel_loader(fn: Callable[[str, str | int], pd.DataFrame] | None) -> None:
    """Inject an xlsx→DataFrame loader (tests; or an openpyxl one).
    ``None`` restores the vendored stdlib decoder."""
    global _loader
    _loader = fn


def _default_loader(path: str, sheet: str | int) -> pd.DataFrame:
    return load_xlsx(path, sheet).infer_objects()


def read_xlsx(spark: SparkSession, resolved_path: str) -> DataFrame:
    """Read all glob-matched workbooks into one DataFrame; a
    ``#SheetName`` suffix selects the sheet (default: the first)."""
    path, sheet = split_sheet(resolved_path)
    if sheet is None:
        sheet = 0
    files = sorted(_glob.glob(path))
    if not files:
        raise NotFoundError(f"No files match path: {path!r}")
    loader = _loader or _default_loader
    pdfs = [loader(f, sheet) for f in files]
    merged = pd.concat(pdfs, ignore_index=True)
    return spark.createDataFrame(merged)
