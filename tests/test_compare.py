"""Oracle fetch shape: DuckDB results canonicalize like Spark's."""

from __future__ import annotations


def test_null_boolean_canonicalizes_like_spark(spark):
    import duckdb

    from easydb_server_spark.compare import canon_frame, fetch_oracle

    sql = "SELECT * FROM (VALUES (1, true), (2, NULL::BOOLEAN), (3, false)) t(id, b)"
    got = spark.sql(
        "SELECT * FROM VALUES (1, true), (2, CAST(NULL AS BOOLEAN)), (3, false) AS t(id, b)"
    ).toPandas()
    want = fetch_oracle(duckdb.connect(), sql)
    assert canon_frame(got) == canon_frame(want)
    assert ("NULL", "2") in canon_frame(want)[1]  # columns sort by name: (b, id)
