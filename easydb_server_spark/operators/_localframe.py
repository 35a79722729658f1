"""Driver-rows → DataFrame without the Python-RDD tax.

``spark.createDataFrame(list_of_rows, schema)`` parallelizes the rows
into ``defaultParallelism`` Python-RDD partitions (32 on the bench
host), and EVERY downstream action re-evaluates each partition through
a Python-worker round trip — a measured ~0.4 s of task launches per
consumption for a 2-row table, and ~4.6 s when a consumer coalesces
those partitions into one task (32 sequential worker round trips).

The pandas/Arrow path embeds the rows JVM-side as Arrow batches at
creation: no Python worker at evaluation, 1-2 partitions. Rows and
schema are identical; the classic path is kept only for float fields
holding NaN, and conversion errors propagate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded driver-side rows → DataFrame via ONE Arrow conversion.

    ``rows``: list of tuples (or an empty list). ``schema``: DDL string
    or StructType — always applied, so dtypes match the classic path
    exactly.
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType, IntegralType, StructType

    st = (
        schema
        if isinstance(schema, StructType)
        else StructType.fromDDL(schema)  # type: ignore[arg-type]
    )
    rows = list(rows)
    if not rows:
        # empty: a 0-row JVM range with typed NULL casts — one
        # empty JVM partition instead of 32 empty Python ones
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
    for i, f in enumerate(st.fields):
        if isinstance(f.dataType, (FloatType, DoubleType)) and any(r[i] != r[i] for r in rows):
            # the pandas->Arrow step masks NaN as null; only the
            # classic path keeps a NaN distinct from a NULL
            return spark.createDataFrame(rows, schema)
        if isinstance(f.dataType, IntegralType) and any(r[i] is None for r in rows):
            # pandas stores an int column holding None as float64,
            # which rounds values past 2^53; a nullable Int64 column
            # keeps them exact
            pdf[f.name] = pd.array([r[i] for r in rows], dtype="Int64")
    return spark.createDataFrame(pdf, schema)

