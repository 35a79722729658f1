"""DataFusion→Spark SQL dialect shims (SURVEY.md §7.3/§7.4 risk 1).

The reference exposes DataFusion 47's SQL dialect; Spark SQL differs
in a handful of function names. Rather than rewriting query text, we
register tiny SQL (lambda) functions so DataFusion spellings work
verbatim inside ``spark.sql``. Everything stays JVM-side — these are
``CREATE TEMPORARY FUNCTION name AS`` SQL-expression macros, not
Python UDFs, so codegen is unaffected.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# DataFusion name -> (args, return type, Spark SQL body).
#
# Not shimmed because Spark 4 already ships the DataFusion spelling as a
# builtin: to_char, regexp_like, nvl, nvl2, ifnull, levenshtein,
# split_part, translate, substring_index, regexp_count.
# Not shimmable: approx_distinct / approx_median are *aggregates* — SQL
# scalar macros can't wrap aggregates; callers use Spark's
# approx_count_distinct / percentile_approx directly.
#
# gcd/lcm (DataFusion builtins Spark lacks) run Euclid's algorithm as a
# bounded fold: 64 iterations upper-bounds the worst 64-bit Fibonacci
# pair, each step a pure struct rewrite evaluated JVM-side (higher-order
# lambdas are interpreted, not whole-stage-codegen'd, but never leave
# the executor), so the cost is O(64) per row regardless of magnitude —
# no Python, no UDF.
_EUCLID = (
    "aggregate(sequence(1, 64), named_struct('x', abs({a}), 'y', abs({b})), "
    "(acc, i) -> IF(acc.y = 0, acc, named_struct('x', acc.y, 'y', acc.x % acc.y)), "
    "acc -> acc.x)"
)

_SHIMS: dict[str, tuple[str, str, str]] = {
    "strpos": ("s STRING, sub STRING", "INT", "instr(s, sub)"),
    "to_unixtime": ("d TIMESTAMP", "BIGINT", "unix_timestamp(d)"),
    "arrow_typeof": ("x STRING", "STRING", "typeof(x)"),
    "array_length": ("a ARRAY<BIGINT>", "INT", "size(a)"),
    "list_length": ("a ARRAY<BIGINT>", "INT", "size(a)"),
    "array_to_string": ("a ARRAY<STRING>, sep STRING", "STRING", "array_join(a, sep)"),
    "date_bin": (
        "stride_seconds BIGINT, ts TIMESTAMP, origin TIMESTAMP",
        "TIMESTAMP",
        "timestamp_micros(CAST(floor((unix_micros(ts) - unix_micros(origin)) / (stride_seconds * 1000000)) AS BIGINT)"
        " * stride_seconds * 1000000 + unix_micros(origin))",
    ),
    "substr_index": (
        "s STRING, delim STRING, cnt INT",
        "STRING",
        "substring_index(s, delim, cnt)",
    ),
    "gcd": ("a BIGINT, b BIGINT", "BIGINT", _EUCLID.format(a="a", b="b")),
    "lcm": (
        "a BIGINT, b BIGINT",
        "BIGINT",
        # |a / gcd * b|, divide-first to avoid overflow; 0 when either is 0
        "IF(a = 0 OR b = 0, 0L, abs(a DIV " + _EUCLID.format(a="a", b="b") + " * b))",
    ),
}


def register_dialect_shims(spark: SparkSession) -> list[str]:
    """Register all shims as SQL macros; returns the registered names.

    Uses Spark SQL's ``CREATE OR REPLACE TEMPORARY FUNCTION`` via SQL
    lambda (``CREATE FUNCTION ... RETURN expr``) — a pure Catalyst
    expression, inlined at plan time.
    """
    registered = []
    for name, (args, ret, body) in _SHIMS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) RETURNS {ret} RETURN {body}"
        )
        registered.append(name)
    return registered
