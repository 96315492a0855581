"""Number conventions of the SQL text the expression builders emit:
every embedded double parses back bit-identical, and ``round_dp``
keeps the sign of a zero the way DuckDB's ``round`` does."""

from __future__ import annotations

import math
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from streaming_demos_spark.functions import scalars as SC
from streaming_demos_spark.functions.sqlfrag import dbl

EDGES = [
    0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
    2.225073858507201e-308, 1.7976931348623157e308, -1.7976931348623157e308,
    1e-05, 1.5e-07, 1e16, 1e22, 0.1, -2.5,
]

_bits = struct.Struct(">d")
# random bit patterns reach every exponent, subnormals included
from_bits = st.integers(0, 2**64 - 1).map(
    lambda b: struct.unpack(">d", b.to_bytes(8, "big"))[0]
).filter(math.isfinite)
doubles = st.floats(allow_nan=False, allow_infinity=False) | from_bits


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xs=st.lists(doubles, min_size=1, max_size=40))
def test_dbl_literal_round_trips_bit_identical(spark, xs):
    xs = EDGES + xs
    row = spark.sql(
        "SELECT " + ", ".join(f"{dbl(x)} AS c{i}" for i, x in enumerate(xs))
    ).collect()[0]
    assert [_bits.pack(v) for v in row] == [_bits.pack(x) for x in xs]


def test_round_dp_keeps_sign_of_zero(spark):
    df = spark.createDataFrame([(-1e-9,), (1e-9,), (-0.25,)], "x double")
    got = [r.r for r in df.select(SC.round_dp(df.x, 6).alias("r")).collect()]
    assert [math.copysign(1.0, v) for v in got[:2]] == [-1.0, 1.0]
    assert got == [0.0, 0.0, -0.25]
