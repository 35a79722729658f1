"""Canonical result comparison (shared by the conformance checker and
the differential fuzzer): columns sorted by name, rows sorted, cells
canonicalized to strings — mirrors the driver's order-insensitive
value-hash semantics."""

from __future__ import annotations

import datetime
import decimal
import math


def canon_cell(v) -> str:
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0:
            f = 0.0
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(pdf):
    """pandas DataFrame -> (colnames_sorted, sorted list of row tuples)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(canon_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def fetch_oracle(con, sql: str):
    """DuckDB result of ``sql`` as a pandas DataFrame shaped like Spark's
    ``toPandas``: fetched through Arrow, a NULL BOOLEAN stays None (DuckDB's
    ``.df()`` turns it into NaN, canonical "NaN" against Spark's "NULL"),
    and DATE columns stay datetime64 as ``.df()`` gives them."""
    return con.execute(sql).fetch_arrow_table().to_pandas(date_as_object=False)
