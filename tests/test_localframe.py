"""local_frame returns exactly the rows it was given: every primitive
type, with NULLs, 64-bit extremes, integers past 2^53 and NaN."""

from __future__ import annotations

import math
from decimal import Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from easydb_server_spark.operators._localframe import local_frame

SCHEMA = (
    "b bigint, i int, s smallint, t tinyint, d double, str string, "
    "dec decimal(20,4), flag boolean"
)
I64 = 2**63 - 1


def _ints(bits: int, specials: list[int]):
    hi = 2 ** (bits - 1) - 1
    return st.one_of(st.none(), st.sampled_from(specials + [hi, -hi]), st.integers(-hi, hi))


ROW = st.tuples(
    _ints(64, [2**60 + 1, 2**53 + 1]),
    _ints(32, []),
    _ints(16, []),
    _ints(8, []),
    st.one_of(st.none(), st.just(math.nan), st.floats(allow_nan=False), st.just(float(2**60 + 1))),
    st.one_of(st.none(), st.text(max_size=5)),
    st.one_of(
        st.none(),
        st.decimals(min_value=-(10**15), max_value=10**15, places=4, allow_nan=False, allow_infinity=False),
    ),
    st.one_of(st.none(), st.booleans()),
)


def _canon(rows):
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(ROW, min_size=1, max_size=6))
@example(rows=[(2**60 + 1, 1, 1, 1, 1.0, "a", Decimal("1.5"), True), (None,) * 8])
@example(rows=[(I64, 2**31 - 1, 2**15 - 1, 127, math.nan, "", Decimal(0), False), (-I64, None, None, None, None, None, None, None)])
def test_local_frame_round_trips_every_primitive(spark, rows):
    got = [tuple(r) for r in local_frame(spark, rows, SCHEMA).collect()]
    assert _canon(got) == _canon(rows)


def test_none_in_bigint_keeps_precision(spark):
    """The ROADMAP reproduction: pandas turned this column into float64."""
    rows = [(2**60 + 1, "a"), (None, "b")]
    got = local_frame(spark, rows, "x bigint, s string").collect()
    assert [tuple(r) for r in got] == rows
