"""Pin the single-parse SQL craft builders against the Column-operator
reference implementations.

The `_sql_*` / `*_frame_sql` builders of the mm query module exist purely
for plan-construction cost (one F.expr parse instead of hundreds of
py4j round trips) and for execution cost (substring table lookups
instead of per-pixel interpreted hex arithmetic); the Column-form
builders (`_bmp_frame_hex` & co.) remain the executable spec. These
tests assert byte-for-byte equality of the two forms over the FULL
doc_id residue period — lcm(256, 12, 9, 8, 2, 7) = 16128 — so every
(pixel base value, width, height, format, orientation, frame count)
combination the craft can ever produce is covered.
"""

import pytest
from pyspark.sql import functions as F

from streaming_demos_spark.queries import mm as E

PERIOD = 16128  # lcm of every modulus in the craft formulas


def _ids(spark, n=PERIOD):
    return spark.range(0, n).select(F.col("id").alias("doc_id"))


def _old_pixel_frame(did, f):
    w = did % 12 + 4
    h = did % 9 + 4
    fmt = (did + f) % 8
    return (
        F.when(fmt >= 6, E._jpeg_frame_hex(did, w, h, f))
        .when(fmt >= 4, E._gif_frame_hex(did, w, h, f))
        .when(fmt >= 2, E._png_frame_hex(did, w, h, f))
        .otherwise(E._bmp_frame_hex(did, w, h, f))
    )


def test_pixel_frame_sql_matches_column_form_single(spark):
    did = F.col("doc_id")
    old = _old_pixel_frame(did, F.lit(0))
    new = F.expr(E._pixel_frame_sql("doc_id", "0"))
    bad = (
        _ids(spark)
        .select(old.alias("a"), new.alias("b"))
        .filter("NOT (a <=> b)")
        .count()
    )
    assert bad == 0


def test_pixel_frame_sql_matches_column_form_multi(spark):
    did = F.col("doc_id")
    old = F.array_join(
        F.transform(
            F.sequence(F.lit(0), did % 7),
            lambda f: _old_pixel_frame(did, f),
        ),
        "",
    )
    new = F.expr(
        "array_join(transform(sequence(0, doc_id % 7), f -> "
        + E._pixel_frame_sql("doc_id", "f")
        + "), '')"
    )
    bad = (
        _ids(spark)
        .select(old.alias("a"), new.alias("b"))
        .filter("NOT (a <=> b)")
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize("ch", [1, 2])
def test_wav_frame_sql_matches_column_form(spark, ch):
    did = F.col("doc_id")
    n = did % 50 + 10
    sr = (did % 4 + 1) * 8000
    old = E._wav_frame_hex(did, n, sr, ch)
    new = F.expr(
        E._wav_frame_sql(
            "doc_id", "(doc_id % 50 + 10)", "((doc_id % 4 + 1) * 8000)", ch
        )
    )
    bad = (
        _ids(spark, 4096)
        .select(old.alias("a"), new.alias("b"))
        .filter("NOT (a <=> b)")
        .count()
    )
    assert bad == 0
